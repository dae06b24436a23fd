"""Model-evaluation metrics over scored datasets (SURVEY.md §2.2 "LLM
ops" — the QA half of a training-data pipeline: every data-curation
classifier, quality filter, and retrieval index ships with an eval job
that computes AUC / PR / calibration / ranking metrics over a scored
holdout, and those jobs run at the same corpus scale as the filters).

The fixture is deterministic: binary label y = label % 2 on the
``embeddings`` table, and two "model" scores derived from embedding
dims 1 and 2 with a +0.25·y class shift, quantized to integer buckets
``floor(40·s)``. Quantization is the scale lever — every threshold
metric (AUC, AP, KS, gain/lift, calibration) is computed from the
GROUPED (model, score) table, whose size is bounded by the score
grid (~40 rows), not the corpus. At 100 TB the per-row pass is one
map + one groupBy; the cumulative windows run on the tiny threshold
table. The same trick is how production eval jobs (e.g. Spark mllib's
BinaryClassificationMetrics with numBins) stay linear.

Exactness discipline: AUC is a pure integer sum (concordant-pair
counting with 0.5-tie credit, scaled by 2 to stay integral); AP, Brier,
DCG are decimal(38,12) sums of per-row doubles computed by identical
IEEE expressions in both engines; probabilities use a rational squash
p = 0.5 + 0.5·z/(1+|z|) (no transcendentals); NDCG log-discounts are
embedded as shared literal constants so both engines parse the exact
same doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.dedup import dot_double, sql_dot
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query

# exact accumulator for probability-scale terms. Scale 12, not 18: Spark
# casts double->decimal through the SHORTEST-REPR string while DuckDB
# rounds the exact binary expansion, and the two agree only within ~15
# significant digits -- rounding at 1e-12 for <=3-integer-digit terms
# stays inside that agreement window, so both engines produce the same
# decimals and the sums stay order-independent
DEC18 = "decimal(38,12)"

SCORE_GRID = 40  # score quantization: s_q = floor(40 * raw)

RANK_QUERIES = 8  # ranking eval: queries are vec_id < RANK_QUERIES
RANK_K = 10

# NDCG rank discounts 1/log2(rank+1) as shared literals — repr() is the
# shortest round-trip form, so both engines parse bit-identical doubles.
# Each branch is CAST(... AS DOUBLE) because bare numeric literals parse
# as DECIMAL in both SQL dialects, and decimal arithmetic would diverge.
_DISC = [repr(1.0 / math.log2(i + 1)) for i in range(1, RANK_K + 1)]
_IDCG = [repr(sum(1.0 / math.log2(i + 1) for i in range(1, m + 1))) for m in range(1, RANK_K + 1)]

_DISC_CASE = (
    "CASE rn "
    + " ".join(f"WHEN {i + 1} THEN CAST({d} AS DOUBLE)" for i, d in enumerate(_DISC))
    + " ELSE CAST(0.0 AS DOUBLE) END"
)
_IDCG_CASE = (
    "CASE m "
    + " ".join(f"WHEN {i + 1} THEN CAST({d} AS DOUBLE)" for i, d in enumerate(_IDCG))
    + " ELSE CAST(1.0 AS DOUBLE) END"
)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(model, s, y): two deterministic model scores per row, quantized
    to the integer grid. One narrow projection of the corpus — the only
    full-data pass every metric below shares."""
    e = load_table(spark, sf_dir, "embeddings")
    y = (F.col("label") % 2).alias("y")

    def model(dim: int, name: str) -> DataFrame:
        raw = F.element_at("embedding", dim).cast("double") + 0.25 * (F.col("label") % 2)
        return e.select(
            F.lit(name).alias("model"),
            F.floor(raw * SCORE_GRID).cast("bigint").alias("s"),
            y,
        )

    return model(1, "m1").unionByName(model(2, "m2"))


# DuckDB twin of _scored(): embedding[] is 1-indexed in both engines
_SQL_SCORED = f"""
    scored AS (
        SELECT m.model,
               CAST(FLOOR((CAST(CASE WHEN m.model = 'm1' THEN embedding[1]
                                     ELSE embedding[2] END AS DOUBLE)
                           + 0.25 * (label % 2)) * {SCORE_GRID}) AS BIGINT) AS s,
               (label % 2) AS y
        FROM embeddings
        CROSS JOIN (SELECT 'm1' AS model UNION ALL SELECT 'm2') m
    )
"""

# grouped threshold table + cumulatives: every (model, s) is unique per
# window partition, so the default RANGE frame has no peer ambiguity
_SQL_CUM = f"""
    {_SQL_SCORED},
    g AS (
        SELECT model, s,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM scored GROUP BY model, s
    ),
    c AS (
        SELECT model, s, pos, neg,
               CAST(SUM(pos) OVER (PARTITION BY model ORDER BY s) AS BIGINT) AS cumpos_le,
               CAST(SUM(neg) OVER (PARTITION BY model ORDER BY s) AS BIGINT) AS cumneg_le,
               CAST(SUM(pos) OVER (PARTITION BY model ORDER BY s DESC) AS BIGINT) AS cumpos_ge,
               CAST(SUM(neg) OVER (PARTITION BY model ORDER BY s DESC) AS BIGINT) AS cumneg_ge,
               CAST(SUM(pos) OVER (PARTITION BY model) AS BIGINT) AS p_tot,
               CAST(SUM(neg) OVER (PARTITION BY model) AS BIGINT) AS n_tot
        FROM g
    )
"""


def _cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``c`` CTE: grouped threshold table with
    cumulative pos/neg from both ends plus per-model totals."""
    g = (
        _scored(spark, sf_dir)
        .groupBy("model", "s")
        .agg(
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
    )
    asc = Window.partitionBy("model").orderBy("s")
    desc = Window.partitionBy("model").orderBy(F.col("s").desc())
    whole = Window.partitionBy("model")
    return g.select(
        "model",
        "s",
        "pos",
        "neg",
        F.sum("pos").over(asc).alias("cumpos_le"),
        F.sum("neg").over(asc).alias("cumneg_le"),
        F.sum("pos").over(desc).alias("cumpos_ge"),
        F.sum("neg").over(desc).alias("cumneg_ge"),
        F.sum("pos").over(whole).alias("p_tot"),
        F.sum("neg").over(whole).alias("n_tot"),
    )


# rational probability squash of the de-quantized score — +, *, /, abs
# only, so both engines produce bit-identical doubles
def _p_col() -> F.Column:
    z = F.col("s").cast("double") / float(SCORE_GRID)
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


_SQL_P = f"(0.5 + 0.5 * (CAST(s AS DOUBLE) / {float(SCORE_GRID)}) / (1.0 + ABS(CAST(s AS DOUBLE) / {float(SCORE_GRID)})))"


@query(
    "ml_eval_auc_pr",
    oracle=f"""
    WITH {_SQL_CUM}
    SELECT model,
           CAST(MAX(p_tot) AS BIGINT) AS pos_n,
           CAST(MAX(n_tot) AS BIGINT) AS neg_n,
           CAST(SUM(pos * (2 * (cumneg_le - neg) + neg)) AS DOUBLE)
               / (2.0 * MAX(p_tot) * MAX(n_tot)) AS auc,
           CAST(SUM(CAST((CAST(pos AS DOUBLE) / p_tot)
                         * (CAST(cumpos_ge AS DOUBLE) / (cumpos_ge + cumneg_ge))
                         AS DECIMAL(38,12))) AS DOUBLE) AS avg_precision,
           CAST(SUM(CAST(pos * ({_SQL_P} - 1.0) * ({_SQL_P} - 1.0)
                         + neg * {_SQL_P} * {_SQL_P}
                         AS DECIMAL(38,12))) AS DOUBLE)
               / (MAX(p_tot) + MAX(n_tot)) AS brier
    FROM c
    GROUP BY model
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
    bench=True,
)
def ml_eval_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC, average precision, and Brier score per model.

    AUC is Mann-Whitney concordant-pair counting on the grouped
    threshold table: each score bucket contributes
    pos·(2·neg_below + neg_tied) — an exact integer — and the single
    final division yields the tie-corrected AUC. AP is the step-wise
    PR-curve area Σ (pos_s/P)·precision(≥s) with ties grouped at the
    bucket level. Brier uses the rational squash probability. All three
    run on the ~40-row threshold table; the corpus is touched once by
    the groupBy."""
    p = _p_col()
    return (
        _cum(spark, sf_dir)
        .groupBy("model")
        .agg(
            F.max("p_tot").alias("pos_n"),
            F.max("n_tot").alias("neg_n"),
            (
                F.sum(F.col("pos") * (2 * (F.col("cumneg_le") - F.col("neg")) + F.col("neg"))).cast("double")
                / (F.lit(2.0) * F.max("p_tot") * F.max("n_tot"))
            ).alias("auc"),
            F.sum(
                (
                    (F.col("pos").cast("double") / F.col("p_tot"))
                    * (F.col("cumpos_ge").cast("double") / (F.col("cumpos_ge") + F.col("cumneg_ge")))
                ).cast(DEC18)
            )
            .cast("double")
            .alias("avg_precision"),
            (
                F.sum(
                    (F.col("pos") * (p - 1.0) * (p - 1.0) + F.col("neg") * p * p).cast(DEC18)
                ).cast("double")
                / (F.max("p_tot") + F.max("n_tot"))
            ).alias("brier"),
        )
        .orderBy("model")
    )


@query(
    "ml_eval_ks",
    oracle=f"""
    WITH {_SQL_CUM},
    d AS (
        SELECT model, s,
               ABS(CAST(cumpos_le AS DOUBLE) / p_tot
                   - CAST(cumneg_le AS DOUBLE) / n_tot) AS absdiff
        FROM c
    ),
    mx AS (
        SELECT model, s, absdiff,
               MAX(absdiff) OVER (PARTITION BY model) AS ks
        FROM d
    )
    SELECT model, MAX(ks) AS ks_stat, CAST(MIN(s) AS BIGINT) AS ks_threshold
    FROM mx WHERE absdiff = ks
    GROUP BY model
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation per model: max over thresholds of
    |CDF_pos − CDF_neg|, plus the lowest score bucket attaining it (the
    classic credit-scoring cutoff). The argmax comparison is on doubles
    both engines computed by the same expression, so equality is
    exact."""
    c = _cum(spark, sf_dir)
    absdiff = F.abs(
        F.col("cumpos_le").cast("double") / F.col("p_tot")
        - F.col("cumneg_le").cast("double") / F.col("n_tot")
    ).alias("absdiff")
    w = Window.partitionBy("model")
    mx = c.select("model", "s", absdiff).withColumn("ks", F.max("absdiff").over(w))
    return (
        mx.filter(F.col("absdiff") == F.col("ks"))
        .groupBy("model")
        .agg(F.max("ks").alias("ks_stat"), F.min("s").alias("ks_threshold"))
        .orderBy("model")
    )


@query(
    "ml_eval_gain_lift",
    oracle=f"""
    WITH {_SQL_CUM}
    SELECT model, s,
           CAST(cumpos_ge + cumneg_ge AS DOUBLE) / (p_tot + n_tot) AS frac_population,
           CAST(cumpos_ge AS DOUBLE) / p_tot AS gain,
           (CAST(cumpos_ge AS DOUBLE) / p_tot)
               / (CAST(cumpos_ge + cumneg_ge AS DOUBLE) / (p_tot + n_tot)) AS lift
    FROM c
    ORDER BY model, s DESC
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_gain_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift per score threshold, descending: at
    each cutoff, what fraction of the population is selected and what
    fraction of all positives it captures (gain), with lift = gain /
    population-fraction. This is the targeting-table shape (CAP curve);
    one row per threshold bucket, so output size is the score grid."""
    c = _cum(spark, sf_dir)
    frac_pop = (F.col("cumpos_ge") + F.col("cumneg_ge")).cast("double") / (
        F.col("p_tot") + F.col("n_tot")
    )
    gain = F.col("cumpos_ge").cast("double") / F.col("p_tot")
    return c.select(
        "model",
        "s",
        frac_pop.alias("frac_population"),
        gain.alias("gain"),
        (gain / frac_pop).alias("lift"),
    ).orderBy("model", F.col("s").desc())


@query(
    "ml_eval_calibration",
    oracle=f"""
    WITH {_SQL_CUM}
    SELECT model,
           LEAST(CAST(FLOOR({_SQL_P} * 10) AS BIGINT), 9) AS bin,
           CAST(SUM(pos + neg) AS BIGINT) AS n_rows,
           CAST(SUM(CAST((pos + neg) * {_SQL_P} AS DECIMAL(38,12))) AS DOUBLE)
               / SUM(pos + neg) AS mean_predicted,
           CAST(SUM(pos) AS DOUBLE) / SUM(pos + neg) AS frac_positive
    FROM c
    GROUP BY model, bin
    ORDER BY model, bin
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: squash scores to probabilities, bucket into
    ten equal-width bins, and compare mean predicted probability with
    the observed positive rate per bin. A calibrated model sits on the
    diagonal. Computed entirely on the threshold table — the bin
    assignment is a map over ~40 rows."""
    p = _p_col()
    bin_ = F.least(F.floor(p * 10).cast("bigint"), F.lit(9).cast("bigint"))
    return (
        _cum(spark, sf_dir)
        .select(
            "model",
            bin_.alias("bin"),
            "pos",
            "neg",
            ((F.col("pos") + F.col("neg")) * p).cast(DEC18).alias("wp"),
        )
        .groupBy("model", "bin")
        .agg(
            F.sum(F.col("pos") + F.col("neg")).alias("n_rows"),
            (F.sum("wp").cast("double") / F.sum(F.col("pos") + F.col("neg"))).alias(
                "mean_predicted"
            ),
            (F.sum("pos").cast("double") / F.sum(F.col("pos") + F.col("neg"))).alias(
                "frac_positive"
            ),
        )
        .orderBy("model", "bin")
    )


@query(
    "ml_eval_confusion_f1",
    oracle="""
    WITH pred AS (
        SELECT label AS truth,
               CASE WHEN CAST(FLOOR(ABS(CAST(embedding[4] AS DOUBLE)) * 100) AS BIGINT) % 3 = 0
                    THEN (label + 1) % 10 ELSE label END AS pred
        FROM embeddings
    ),
    by_truth AS (
        SELECT truth AS cls, CAST(COUNT(*) AS BIGINT) AS support FROM pred GROUP BY truth
    ),
    by_pred AS (
        SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS predicted_n FROM pred GROUP BY pred
    ),
    diag AS (
        SELECT truth AS cls, CAST(COUNT(*) AS BIGINT) AS tp
        FROM pred WHERE truth = pred GROUP BY truth
    ),
    m AS (
        SELECT t.cls, t.support,
               COALESCE(p.predicted_n, 0) AS predicted_n,
               COALESCE(d.tp, 0) AS tp
        FROM by_truth t
        LEFT JOIN by_pred p ON t.cls = p.cls
        LEFT JOIN diag d ON t.cls = d.cls
    )
    SELECT cls, support, predicted_n, tp,
           CASE WHEN predicted_n = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / predicted_n END AS precision_,
           CAST(tp AS DOUBLE) / support AS recall_,
           CASE WHEN tp = 0 THEN 0.0
                ELSE 2.0 * (CAST(tp AS DOUBLE) / predicted_n) * (CAST(tp AS DOUBLE) / support)
                     / (CAST(tp AS DOUBLE) / predicted_n + CAST(tp AS DOUBLE) / support)
           END AS f1
    FROM m
    ORDER BY cls
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_confusion_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class confusion metrics: a deterministic "classifier"
    (flips the class to its neighbor when a hash-free digit test on
    embedding dim 4 fires) scored per class with support, predicted
    count, true positives, precision, recall, and F1. Three grouped
    counts + a class-sized join — the confusion matrix itself never
    materializes row-wise, so the plan is corpus-pass + tiny joins at
    any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    flip = (
        F.floor(F.abs(F.element_at("embedding", 4).cast("double")) * 100).cast("bigint") % 3 == 0
    )
    pred = e.select(
        F.col("label").alias("truth"),
        F.when(flip, (F.col("label") + 1) % 10).otherwise(F.col("label")).alias("pred"),
    )
    pred = pin(pred)  # margins + diagonal (scan-leaf lint)
    by_truth = pred.groupBy(F.col("truth").alias("cls")).agg(F.count(F.lit(1)).alias("support"))
    by_pred = pred.groupBy(F.col("pred").alias("cls")).agg(
        F.count(F.lit(1)).alias("predicted_n")
    )
    diag = (
        pred.filter(F.col("truth") == F.col("pred"))
        .groupBy(F.col("truth").alias("cls"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    m = (
        by_truth.join(by_pred, "cls", "left")
        .join(diag, "cls", "left")
        .select(
            "cls",
            "support",
            F.coalesce("predicted_n", F.lit(0)).alias("predicted_n"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    prec = F.when(F.col("predicted_n") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / F.col("predicted_n")
    )
    rec = F.col("tp").cast("double") / F.col("support")
    f1 = F.when(F.col("tp") == 0, F.lit(0.0)).otherwise(
        2.0
        * (F.col("tp").cast("double") / F.col("predicted_n"))
        * (F.col("tp").cast("double") / F.col("support"))
        / (
            F.col("tp").cast("double") / F.col("predicted_n")
            + F.col("tp").cast("double") / F.col("support")
        )
    )
    return m.select(
        "cls",
        "support",
        "predicted_n",
        "tp",
        prec.alias("precision_"),
        rec.alias("recall_"),
        f1.alias("f1"),
    ).orderBy("cls")


@query(
    "ml_eval_ranking_ndcg",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe, label AS qlabel,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {RANK_QUERIES}
    ),
    corpus AS (
        SELECT vec_id AS cid, embedding AS ce, label AS clabel,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {RANK_QUERIES}
    ),
    rel_tot AS (
        SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS r_total
        FROM q JOIN corpus c ON q.qlabel = c.clabel
        GROUP BY q.qid
    ),
    scored AS (
        SELECT qid, cid,
               {sql_dot("qe", "ce")} / (qn * cn) AS cos_sim,
               CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel
        FROM q CROSS JOIN corpus
    ),
    ranked AS (
        SELECT qid, cid, rel,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
        FROM scored
    ),
    topk AS (
        SELECT qid, rel, rn,
               CAST(SUM(rel) OVER (PARTITION BY qid ORDER BY rn) AS BIGINT) AS cumrel
        FROM ranked WHERE rn <= {RANK_K}
    ),
    per_q AS (
        SELECT qid,
               CAST(SUM(rel) AS BIGINT) AS rel_in_topk,
               CASE WHEN MIN(CASE WHEN rel = 1 THEN rn END) IS NULL THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(1.0 AS DOUBLE) / MIN(CASE WHEN rel = 1 THEN rn END) END AS mrr,
               CAST(SUM(CAST(CASE WHEN rel = 1
                                  THEN CAST(cumrel AS DOUBLE) / rn ELSE 0.0 END
                             AS DECIMAL(38,12))) AS DOUBLE) AS ap_num,
               CAST(SUM(CAST(rel * ({_DISC_CASE}) AS DECIMAL(38,12))) AS DOUBLE) AS dcg
        FROM topk
        GROUP BY qid
    ),
    fin AS (
        SELECT p.qid, p.rel_in_topk, r.r_total, p.mrr, p.ap_num, p.dcg,
               LEAST(r.r_total, {RANK_K}) AS m
        FROM per_q p JOIN rel_tot r ON p.qid = r.qid
    )
    SELECT qid, rel_in_topk, r_total, mrr,
           ap_num / m AS ap_at_k,
           dcg / ({_IDCG_CASE}) AS ndcg_at_k
    FROM fin
    ORDER BY qid
    """,
    tags=("llm", "ml-eval", "similarity"),
)
def ml_eval_ranking_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics over the exact cosine top-k: MRR,
    AP@k, and NDCG@k per query, with relevance = label match against
    the query vector. The retrieval stage is the broadcast-query
    brute-force scan (same shape as sim_topk_bruteforce — no corpus
    shuffle); the metric stage runs on Q·k rows. Rank discounts and
    ideal-DCG prefix sums are shared literal constants, and the ≤k-term
    DCG/AP sums run through decimal(38,12) so addition order cannot
    split the engines."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < RANK_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
        nrm.alias("qn"),
    )
    corpus = e.filter(F.col("vec_id") >= RANK_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
        nrm.alias("cn"),
    )
    q = pin(q)  # shared frame (scan-leaf lint)
    corpus = pin(corpus)  # relevance totals + scoring (scan-leaf lint)
    rel_tot = (
        corpus.join(F.broadcast(q.select("qid", "qlabel")), F.col("qlabel") == F.col("clabel"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("r_total"))
    )
    cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    ranked = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "cid",
            cos.alias("cos_sim"),
            F.when(F.col("qlabel") == F.col("clabel"), 1).otherwise(0).alias("rel"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RANK_K)
    )
    cum = Window.partitionBy("qid").orderBy("rn")
    topk = ranked.withColumn("cumrel", F.sum("rel").over(cum))
    per_q = topk.groupBy("qid").agg(
        F.sum("rel").alias("rel_in_topk"),
        F.coalesce(
            1.0 / F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0.0)
        ).alias("mrr"),
        F.sum(
            F.when(F.col("rel") == 1, F.col("cumrel").cast("double") / F.col("rn"))
            .otherwise(F.lit(0.0))
            .cast(DEC18)
        )
        .cast("double")
        .alias("ap_num"),
        F.sum((F.col("rel") * F.expr(_DISC_CASE)).cast(DEC18)).cast("double").alias("dcg"),
    )
    joined = per_q.join(F.broadcast(rel_tot), "qid").withColumn(
        "m", F.least(F.col("r_total"), F.lit(RANK_K))
    )
    return joined.select(
        "qid",
        "rel_in_topk",
        "r_total",
        "mrr",
        (F.col("ap_num") / F.col("m")).alias("ap_at_k"),
        (F.col("dcg") / F.expr(_IDCG_CASE)).alias("ndcg_at_k"),
    ).orderBy("qid")


@query(
    "ml_eval_cohens_kappa",
    oracle="""
    WITH raters AS (
        SELECT CASE WHEN CAST(FLOOR(ABS(CAST(embedding[4] AS DOUBLE)) * 100) AS BIGINT) % 3 = 0
                    THEN (label + 1) % 10 ELSE label END AS ra,
               CASE WHEN CAST(FLOOR(ABS(CAST(embedding[5] AS DOUBLE)) * 100) AS BIGINT) % 4 = 0
                    THEN (label + 2) % 10 ELSE label END AS rb
        FROM embeddings
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree_n
        FROM raters
    ),
    ma AS (SELECT ra AS cls, CAST(COUNT(*) AS BIGINT) AS ca FROM raters GROUP BY ra),
    mb AS (SELECT rb AS cls, CAST(COUNT(*) AS BIGINT) AS cb FROM raters GROUP BY rb),
    chance AS (
        SELECT CAST(SUM(ma.ca * mb.cb) AS BIGINT) AS sab
        FROM ma JOIN mb ON ma.cls = mb.cls
    )
    SELECT tot.n, tot.agree_n,
           CAST(tot.agree_n AS DOUBLE) / tot.n AS po,
           CAST(chance.sab AS DOUBLE) / tot.n / tot.n AS pe,
           (CAST(tot.agree_n AS DOUBLE) / tot.n - CAST(chance.sab AS DOUBLE) / tot.n / tot.n)
               / (1.0 - CAST(chance.sab AS DOUBLE) / tot.n / tot.n) AS kappa
    FROM tot CROSS JOIN chance
    ORDER BY n
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement: Cohen's kappa between two
    deterministic raters (independent digit-test label flips on
    embedding dims 4 and 5). Chance agreement comes from the marginal
    product Σ a_k·b_k — an exact integer join over the class-sized
    marginals — so kappa is pure rational arithmetic over counts: two
    corpus passes (one for marginals, one for the agreement count),
    everything downstream is class-cardinality-sized."""
    e = load_table(spark, sf_dir, "embeddings")

    def rater(dim: int, mod: int, shift: int):
        flip = (
            F.floor(F.abs(F.element_at("embedding", dim).cast("double")) * 100).cast("bigint")
            % mod
            == 0
        )
        return F.when(flip, (F.col("label") + shift) % 10).otherwise(F.col("label"))

    raters = e.select(rater(4, 3, 1).alias("ra"), rater(5, 4, 2).alias("rb"))
    raters = pin(raters)  # total + both margins (scan-leaf lint)
    tot = raters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0)).alias("agree_n"),
    )
    ma = raters.groupBy(F.col("ra").alias("cls")).agg(F.count(F.lit(1)).alias("ca"))
    mb = raters.groupBy(F.col("rb").alias("cls")).agg(F.count(F.lit(1)).alias("cb"))
    chance = ma.join(mb, "cls").agg(F.sum(F.col("ca") * F.col("cb")).alias("sab"))
    po = F.col("agree_n").cast("double") / F.col("n")
    pe = F.col("sab").cast("double") / F.col("n") / F.col("n")
    return (
        tot.crossJoin(F.broadcast(chance))
        .select(
            "n",
            "agree_n",
            po.alias("po"),
            pe.alias("pe"),
            ((po - pe) / (1.0 - pe)).alias("kappa"),
        )
        .orderBy("n")
    )


@query(
    "ml_eval_ari_nmi",
    oracle="""
    WITH assign AS (
        SELECT label AS ca,
               ((CAST(FLOOR((CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)) * 25)
                     AS BIGINT) % 5) + 5) % 5 AS cb
        FROM embeddings
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM assign),
    nij AS (SELECT ca, cb, CAST(COUNT(*) AS BIGINT) AS c FROM assign GROUP BY ca, cb),
    ai AS (SELECT ca, CAST(COUNT(*) AS BIGINT) AS c FROM assign GROUP BY ca),
    bj AS (SELECT cb, CAST(COUNT(*) AS BIGINT) AS c FROM assign GROUP BY cb),
    comb AS (
        SELECT (SELECT SUM(c * (c - 1)) / 2.0 FROM nij) AS sumij,
               (SELECT SUM(c * (c - 1)) / 2.0 FROM ai) AS suma,
               (SELECT SUM(c * (c - 1)) / 2.0 FROM bj) AS sumb,
               (SELECT n * (n - 1) / 2.0 FROM tot) AS combn
    ),
    mi AS (
        SELECT CAST(SUM(CAST((CAST(nij.c AS DOUBLE) / tot.n)
                             * ln((CAST(tot.n AS DOUBLE) * nij.c)
                                  / (CAST(ai.c AS DOUBLE) * bj.c))
                             AS DECIMAL(38,12))) AS DOUBLE) AS mi
        FROM nij
        JOIN ai ON nij.ca = ai.ca
        JOIN bj ON nij.cb = bj.cb
        CROSS JOIN tot
    ),
    ha AS (
        SELECT CAST(SUM(CAST(-(CAST(ai.c AS DOUBLE) / tot.n)
                             * ln(CAST(ai.c AS DOUBLE) / tot.n)
                             AS DECIMAL(38,12))) AS DOUBLE) AS h
        FROM ai CROSS JOIN tot
    ),
    hb AS (
        SELECT CAST(SUM(CAST(-(CAST(bj.c AS DOUBLE) / tot.n)
                             * ln(CAST(bj.c AS DOUBLE) / tot.n)
                             AS DECIMAL(38,12))) AS DOUBLE) AS h
        FROM bj CROSS JOIN tot
    )
    SELECT tot.n,
           comb.sumij,
           (comb.sumij - comb.suma * comb.sumb / comb.combn)
               / ((comb.suma + comb.sumb) / 2.0 - comb.suma * comb.sumb / comb.combn) AS ari,
           mi.mi,
           mi.mi / sqrt(ha.h * hb.h) AS nmi
    FROM tot CROSS JOIN comb CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
    ORDER BY n
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_ari_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-agreement metrics: Adjusted Rand Index and normalized
    mutual information between the reference labels and a deterministic
    bucket clustering of embedding dims 1+2. ARI is exact pair-counting
    over the contingency table (every comb2 is an even integer product,
    so the double halves are exact); MI/entropy terms go through
    decimal so the sum order can't split the engines (ln itself is
    libm-identical — same contract the NLL operators rely on). The
    contingency table is classes×clusters-sized; the corpus is touched
    by one groupBy."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = (
        (
            F.floor(
                (
                    F.element_at("embedding", 1).cast("double")
                    + F.element_at("embedding", 2).cast("double")
                )
                * 25
            ).cast("bigint")
            % 5
            + 5
        )
        % 5
    )
    assign = e.select(F.col("label").alias("ca"), cb.alias("cb"))
    # one corpus scan (scan-leaf lint): margins and total derive from
    # the pinned k x k contingency table
    nij = pin(assign.groupBy("ca", "cb").agg(
        F.count(F.lit(1)).alias("c")
    ))
    tot = nij.agg(F.sum("c").alias("n"))
    ai = nij.groupBy("ca").agg(F.sum("c").alias("c"))
    bj = nij.groupBy("cb").agg(F.sum("c").alias("c"))

    def comb2_sum(df: DataFrame, alias: str) -> DataFrame:
        return df.agg((F.sum(F.col("c") * (F.col("c") - 1)) / 2.0).alias(alias))

    comb = (
        comb2_sum(nij, "sumij")
        .crossJoin(comb2_sum(ai, "suma"))
        .crossJoin(comb2_sum(bj, "sumb"))
        .crossJoin(tot.select((F.col("n") * (F.col("n") - 1) / 2.0).alias("combn")))
    )
    ai_r = ai.select(F.col("ca").alias("ca"), F.col("c").alias("a_c"))
    bj_r = bj.select(F.col("cb").alias("cb"), F.col("c").alias("b_c"))
    joined = nij.join(F.broadcast(ai_r), "ca").join(F.broadcast(bj_r), "cb").crossJoin(
        F.broadcast(tot)
    )
    mi_term = (F.col("c").cast("double") / F.col("n")) * F.log(
        (F.col("n").cast("double") * F.col("c")) / (F.col("a_c").cast("double") * F.col("b_c"))
    )
    mi = joined.agg(F.sum(mi_term.cast(DEC18)).cast("double").alias("mi"))

    def entropy(df: DataFrame, alias: str) -> DataFrame:
        p = F.col("c").cast("double") / F.col("n")
        return df.crossJoin(F.broadcast(tot)).agg(
            F.sum((-p * F.log(p)).cast(DEC18)).cast("double").alias(alias)
        )

    ha = entropy(ai, "ha")
    hb = entropy(bj, "hb")
    expected = F.col("suma") * F.col("sumb") / F.col("combn")
    return (
        tot.crossJoin(F.broadcast(comb))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            "n",
            "sumij",
            (
                (F.col("sumij") - expected)
                / ((F.col("suma") + F.col("sumb")) / 2.0 - expected)
            ).alias("ari"),
            "mi",
            (F.col("mi") / F.sqrt(F.col("ha") * F.col("hb"))).alias("nmi"),
        )
        .orderBy("n")
    )


@query(
    "ml_eval_ipw_ate",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS t,
               o_totalprice AS y,
               (0.5 + 0.5 * (CAST(o_orderkey % 100 AS DOUBLE) / 50.0 - 1.0)
                    / (1.0 + ABS(CAST(o_orderkey % 100 AS DOUBLE) / 50.0 - 1.0))) AS p
        FROM orders
    )
    SELECT CAST(SUM(t) AS BIGINT) AS n_treated,
           CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_control,
           CAST(SUM(CAST(t * y / p AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(SUM(CAST(t / p AS DECIMAL(38,12))) AS DOUBLE) AS mu_treated,
           CAST(SUM(CAST((1 - t) * y / (1.0 - p) AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(SUM(CAST((1 - t) / (1.0 - p) AS DECIMAL(38,12))) AS DOUBLE) AS mu_control,
           CAST(SUM(CAST(t * y / p AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(SUM(CAST(t / p AS DECIMAL(38,12))) AS DOUBLE)
           - CAST(SUM(CAST((1 - t) * y / (1.0 - p) AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(SUM(CAST((1 - t) / (1.0 - p) AS DECIMAL(38,12))) AS DOUBLE) AS ate
    FROM scored
    ORDER BY n_treated
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Hájek
    estimator) over orders: treatment = high order priority, outcome =
    order value, propensity from a deterministic confounder score
    squashed into [0.25, 0.75] (bounded away from 0/1, so no weight
    explosion). One aggregation pass: four weighted decimal sums and
    two counts — the same single-shuffle shape at any corpus size."""
    o = load_table(spark, sf_dir, "orders")
    t = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    z = (F.col("o_orderkey") % 100).cast("double") / 50.0 - 1.0
    p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    scored = o.select(t.alias("t"), F.col("o_totalprice").alias("y"), p.alias("p"))
    mu1 = F.sum((F.col("t") * F.col("y") / F.col("p")).cast(DEC18)).cast("double") / F.sum(
        (F.col("t") / F.col("p")).cast(DEC18)
    ).cast("double")
    mu0 = F.sum(
        ((1 - F.col("t")) * F.col("y") / (F.lit(1.0) - F.col("p"))).cast(DEC18)
    ).cast("double") / F.sum(
        ((1 - F.col("t")) / (F.lit(1.0) - F.col("p"))).cast(DEC18)
    ).cast("double")
    return scored.agg(
        F.sum("t").alias("n_treated"),
        (F.count(F.lit(1)) - F.sum("t")).alias("n_control"),
        mu1.alias("mu_treated"),
        mu0.alias("mu_control"),
        (mu1 - mu0).alias("ate"),
    ).orderBy("n_treated")


@query(
    "ml_eval_woe_iv",
    oracle="""
    WITH lab AS (
        SELECT o_orderpriority AS bucket,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
        FROM orders
    ),
    per_b AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(bad) AS BIGINT) AS bads,
               CAST(COUNT(*) - SUM(bad) AS BIGINT) AS goods
        FROM lab GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(goods) AS BIGINT) AS g_tot, CAST(SUM(bads) AS BIGINT) AS b_tot
        FROM per_b
    )
    SELECT p.bucket, p.n, p.goods, p.bads,
           ln((CAST(p.goods AS DOUBLE) / t.g_tot)
              / (CAST(p.bads AS DOUBLE) / t.b_tot)) AS woe,
           (CAST(p.goods AS DOUBLE) / t.g_tot - CAST(p.bads AS DOUBLE) / t.b_tot)
               * ln((CAST(p.goods AS DOUBLE) / t.g_tot)
                    / (CAST(p.bads AS DOUBLE) / t.b_tot)) AS iv_term
    FROM per_b p CROSS JOIN tot t
    ORDER BY p.bucket
    """,
    tags=("llm", "ml-eval", "features"),
)
def ml_eval_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value per feature
    bucket (the credit-scoring feature screen): WOE = ln of the
    good-rate/bad-rate ratio per bucket, IV term = (good frac − bad
    frac)·WOE. One grouped count pass; the WOE table is
    bucket-cardinality-sized and becomes a broadcast map in the
    downstream encode join. ln is libm-identical across engines (the
    NLL contract); every other factor is exact counts."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    per_b = lab.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bad").alias("bads"),
        (F.count(F.lit(1)) - F.sum("bad")).alias("goods"),
    )
    tot = per_b.agg(F.sum("goods").alias("g_tot"), F.sum("bads").alias("b_tot"))
    gf = F.col("goods").cast("double") / F.col("g_tot")
    bf = F.col("bads").cast("double") / F.col("b_tot")
    woe = F.log(gf / bf)
    return (
        per_b.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n",
            "goods",
            "bads",
            woe.alias("woe"),
            ((gf - bf) * woe).alias("iv_term"),
        )
        .orderBy("bucket")
    )


@query(
    "ml_eval_target_encode_oof",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold, o_totalprice AS y
        FROM orders
    ),
    per_cf AS (
        SELECT cat, fold,
               CAST(COUNT(*) AS BIGINT) AS n_cf,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS s_cf
        FROM base GROUP BY cat, fold
    ),
    per_c AS (
        SELECT cat,
               CAST(SUM(n_cf) AS BIGINT) AS n_c,
               CAST(SUM(CAST(s_cf AS DECIMAL(28,6))) AS DOUBLE) AS s_c
        FROM per_cf GROUP BY cat
    )
    SELECT f.cat, f.fold, f.n_cf,
           (c.s_c - f.s_cf) / (c.n_c - f.n_cf) AS oof_mean
    FROM per_cf f JOIN per_c c ON f.cat = c.cat
    ORDER BY f.cat, f.fold
    """,
    tags=("llm", "ml-eval", "features"),
)
def ml_eval_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding: each (category, fold) cell gets
    the target mean computed from the OTHER folds only — the K-fold
    out-of-fold scheme that stops a category's own rows from leaking
    their labels into their feature. Two grouped aggregations (cell
    sums, then category totals) and a category-keyed join; no per-fold
    re-scan — ablating fold k is arithmetic on the cell sums, so K
    costs nothing extra at 100 TB. Decimal cell sums keep both engines
    bit-identical; the cross-fold subtraction happens on the exact
    cast doubles in the same order."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.col("o_totalprice").alias("y"),
    )
    per_cf = base.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).alias("n_cf"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("s_cf"),
    )
    per_c = per_cf.groupBy("cat").agg(
        F.sum("n_cf").alias("n_c"),
        F.sum(F.col("s_cf").cast("decimal(28,6)")).cast("double").alias("s_c"),
    )
    return (
        per_cf.join(F.broadcast(per_c), "cat")
        .select(
            "cat",
            "fold",
            "n_cf",
            ((F.col("s_c") - F.col("s_cf")) / (F.col("n_c") - F.col("n_cf"))).alias(
                "oof_mean"
            ),
        )
        .orderBy("cat", "fold")
    )


TREE_BIN_WIDTH = 10000.0  # o_totalprice histogram bin width
TREE_MAX_BIN = 60


@query(
    "ml_tree_histogram_split",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST(CAST(FLOOR(o_totalprice / {TREE_BIN_WIDTH}) AS BIGINT),
                     {TREE_MAX_BIN}) AS b,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    hist AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(SUM(y) AS BIGINT) AS s_b
        FROM binned GROUP BY b
    ),
    cum AS (
        SELECT b, n_b, s_b,
               CAST(SUM(n_b) OVER (ORDER BY b) AS BIGINT) AS cn,
               CAST(SUM(s_b) OVER (ORDER BY b) AS BIGINT) AS cs,
               CAST(SUM(n_b) OVER () AS BIGINT) AS n_tot,
               CAST(SUM(s_b) OVER () AS BIGINT) AS s_tot
        FROM hist
    ),
    gains AS (
        SELECT b, cn, cs, n_tot, s_tot,
               CAST(cs * cs AS DOUBLE) / cn
                   + CAST((s_tot - cs) * (s_tot - cs) AS DOUBLE) / (n_tot - cn)
                   - CAST(s_tot * s_tot AS DOUBLE) / n_tot AS gain
        FROM cum WHERE cn < n_tot
    )
    SELECT b AS split_bin, cn AS n_left, cs AS pos_left, gain,
           CASE WHEN gain = MAX(gain) OVER () THEN TRUE ELSE FALSE END AS is_best
    FROM gains
    ORDER BY split_bin
    """,
    tags=("llm", "ml-eval", "tree"),
    uwin=(
        'histogram-bin grid (fixed bin count)',
        'histogram-bin grid (fixed bin count)',
        'histogram-bin grid (fixed bin count)',
    ),
)
def ml_tree_histogram_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-tree split finding — the core kernel of
    every distributed GBDT (XGBoost approx / LightGBM): quantize the
    feature into ≤61 bins, aggregate per-bin count and label sum in ONE
    corpus pass, then score every candidate split with the variance
    -reduction gain cs²/n_L + (S−cs)²/n_R − S²/N on the cumulative
    histogram. The split search costs bins, not rows — the exact reason
    histogram GBDT scales: a 100 TB feature column reduces to a 61-row
    histogram per (feature, node), map-side-combined. Gains are exact
    rationals of integer counts, so the argmax flag is deterministic
    across engines."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / TREE_BIN_WIDTH).cast("bigint"),
            F.lit(TREE_MAX_BIN).cast("bigint"),
        ).alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    hist = binned.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("y").alias("s_b")
    )
    wasc = Window.orderBy("b")
    wall = Window.partitionBy()
    cum = hist.select(
        "b",
        F.sum("n_b").over(wasc).alias("cn"),
        F.sum("s_b").over(wasc).alias("cs"),
        F.sum("n_b").over(wall).alias("n_tot"),
        F.sum("s_b").over(wall).alias("s_tot"),
    )
    gain = (
        (F.col("cs") * F.col("cs")).cast("double") / F.col("cn")
        + ((F.col("s_tot") - F.col("cs")) * (F.col("s_tot") - F.col("cs"))).cast("double")
        / (F.col("n_tot") - F.col("cn"))
        - (F.col("s_tot") * F.col("s_tot")).cast("double") / F.col("n_tot")
    )
    gains = cum.filter(F.col("cn") < F.col("n_tot")).select(
        F.col("b").alias("split_bin"),
        F.col("cn").alias("n_left"),
        F.col("cs").alias("pos_left"),
        gain.alias("gain"),
    )
    return gains.select(
        "split_bin",
        "n_left",
        "pos_left",
        "gain",
        (F.col("gain") == F.max("gain").over(Window.partitionBy())).alias("is_best"),
    ).orderBy("split_bin")


RIDGE_LAMBDA = 10


@query(
    "ml_ridge_regression_normal",
    oracle=f"""
    WITH feat AS (
        SELECT o_orderkey % 7 AS x1,
               CASE o_orderpriority
                    WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
                    ELSE 5 END AS x2,
               o_totalprice AS y
        FROM orders
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS sx1,
               CAST(SUM(x2) AS BIGINT) AS sx2,
               CAST(SUM(x1 * x1) AS BIGINT) AS sx11,
               CAST(SUM(x1 * x2) AS BIGINT) AS sx12,
               CAST(SUM(x2 * x2) AS BIGINT) AS sx22,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x1 * y AS DECIMAL(28,6))) AS DOUBLE) AS sx1y,
               CAST(SUM(CAST(x2 * y AS DECIMAL(28,6))) AS DOUBLE) AS sx2y
        FROM feat
    ),
    m AS (
        SELECT CAST(n + {RIDGE_LAMBDA} AS DOUBLE) AS a,
               CAST(sx1 AS DOUBLE) AS b, CAST(sx2 AS DOUBLE) AS c,
               CAST(sx11 + {RIDGE_LAMBDA} AS DOUBLE) AS d,
               CAST(sx12 AS DOUBLE) AS e,
               CAST(sx22 + {RIDGE_LAMBDA} AS DOUBLE) AS f,
               sy, sx1y, sx2y, n
        FROM s
    ),
    sol AS (
        SELECT n,
               a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d) AS det,
               sy * (d * f - e * e) - b * (sx1y * f - sx2y * e)
                   + c * (sx1y * e - sx2y * d) AS det0,
               a * (sx1y * f - sx2y * e) - sy * (b * f - c * e)
                   + c * (b * sx2y - c * sx1y) AS det1,
               a * (d * sx2y - e * sx1y) - b * (b * sx2y - c * sx1y)
                   + sy * (b * e - c * d) AS det2
        FROM m
    )
    SELECT n, det0 / det AS beta0, det1 / det AS beta1, det2 / det AS beta2
    FROM sol
    ORDER BY n
    """,
    tags=("llm", "ml-eval", "linalg"),
)
def ml_ridge_regression_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ridge regression by NORMAL EQUATIONS with an exact
    Cramer solve: two integer features + intercept, (XᵀX + λI)β = Xᵀy.
    The single corpus pass produces nine sufficient statistics (six
    integer Gram entries, three decimal-exact moment sums); the 3×3
    solve is closed-form cofactor arithmetic on those scalars — the
    textbook "big n, tiny p" trainer shape where 100 TB of rows reduce
    to p² map-side-combined partial sums and the driver-sized solve is
    free. Integer features keep XᵀX exact, the λ ridge keeps the system
    well-conditioned, and both engines evaluate the identical cofactor
    expressions, so β matches bitwise."""
    o = load_table(spark, sf_dir, "orders")
    x2 = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
    )
    feat = o.select(
        (F.col("o_orderkey") % 7).alias("x1"), x2.alias("x2"), F.col("o_totalprice").alias("y")
    )
    s = feat.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("x1") * F.col("y")).cast("decimal(28,6)")).cast("double").alias("sx1y"),
        F.sum((F.col("x2") * F.col("y")).cast("decimal(28,6)")).cast("double").alias("sx2y"),
    )
    m = s.select(
        (F.col("n") + RIDGE_LAMBDA).cast("double").alias("a"),
        F.col("sx1").cast("double").alias("b"),
        F.col("sx2").cast("double").alias("c"),
        (F.col("sx11") + RIDGE_LAMBDA).cast("double").alias("d"),
        F.col("sx12").cast("double").alias("e"),
        (F.col("sx22") + RIDGE_LAMBDA).cast("double").alias("f"),
        "sy",
        "sx1y",
        "sx2y",
        "n",
    )
    a, b, c, d, e, f = (F.col(k) for k in "abcdef")
    sy, sx1y, sx2y = F.col("sy"), F.col("sx1y"), F.col("sx2y")
    det = a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d)
    det0 = sy * (d * f - e * e) - b * (sx1y * f - sx2y * e) + c * (sx1y * e - sx2y * d)
    det1 = a * (sx1y * f - sx2y * e) - sy * (b * f - c * e) + c * (b * sx2y - c * sx1y)
    det2 = a * (d * sx2y - e * sx1y) - b * (b * sx2y - c * sx1y) + sy * (b * e - c * d)
    return m.select(
        "n",
        (det0 / det).alias("beta0"),
        (det1 / det).alias("beta1"),
        (det2 / det).alias("beta2"),
    ).orderBy("n")


CONF_ALPHA = 0.9  # split-conformal target coverage


@query(
    "ml_eval_conformal_interval",
    oracle=f"""
    WITH folds AS (
        SELECT o_orderpriority AS cat, o_totalprice AS y, o_orderkey,
               o_orderkey % 3 AS fold
        FROM orders
    ),
    train_mean AS (
        SELECT cat,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS yhat
        FROM folds WHERE fold = 0 GROUP BY cat
    ),
    calib AS (
        SELECT f.cat, ABS(f.y - t.yhat) AS r, f.o_orderkey
        FROM folds f JOIN train_mean t ON f.cat = t.cat
        WHERE f.fold = 1
    ),
    calib_ranked AS (
        SELECT cat, r,
               ROW_NUMBER() OVER (PARTITION BY cat ORDER BY r ASC, o_orderkey ASC) AS rn,
               COUNT(*) OVER (PARTITION BY cat) AS n_cal
        FROM calib
    ),
    q AS (
        SELECT cat, n_cal, r AS q_alpha
        FROM calib_ranked
        WHERE rn = LEAST(CAST(CEIL({CONF_ALPHA} * (n_cal + 1)) AS BIGINT), n_cal)
    ),
    test AS (
        SELECT f.cat, ABS(f.y - t.yhat) AS r
        FROM folds f JOIN train_mean t ON f.cat = t.cat
        WHERE f.fold = 2
    )
    SELECT q.cat, CAST(q.n_cal AS BIGINT) AS n_cal, q.q_alpha,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN test.r <= q.q_alpha THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS coverage
    FROM test JOIN q ON test.cat = q.cat
    GROUP BY q.cat, q.n_cal, q.q_alpha
    ORDER BY q.cat
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per category: fit on fold
    0 (category means), take the ⌈0.9·(n+1)⌉-th smallest absolute
    residual on calibration fold 1 as the interval half-width, and
    report empirical coverage on held-out fold 2 — the
    distribution-free uncertainty wrapper every deployed regressor
    should ship with. The quantile is an EXACT order statistic (rank
    window partitioned by category, so it scales with per-category
    volume), folds are deterministic key arithmetic, and coverage is a
    count ratio — no floats beyond identically-computed residuals."""
    o = load_table(spark, sf_dir, "orders")
    folds = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.col("o_totalprice").alias("y"),
        "o_orderkey",
        (F.col("o_orderkey") % 3).alias("fold"),
    )
    folds = pin(folds)  # train/calib/test consumers (scan-leaf lint)
    train_mean = (
        folds.filter(F.col("fold") == 0)
        .groupBy("cat")
        .agg(
            (F.sum(F.col("y").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
                "yhat"
            )
        )
    )
    calib = (
        folds.filter(F.col("fold") == 1)
        .join(F.broadcast(train_mean), "cat")
        .select("cat", F.abs(F.col("y") - F.col("yhat")).alias("r"), "o_orderkey")
    )
    wr = Window.partitionBy("cat").orderBy(F.col("r").asc(), F.col("o_orderkey").asc())
    ranked = calib.select(
        "cat",
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cat")).alias("n_cal"),
    )
    q = ranked.filter(
        F.col("rn")
        == F.least(
            F.ceil(CONF_ALPHA * (F.col("n_cal") + 1)).cast("bigint"), F.col("n_cal")
        )
    ).select("cat", F.col("n_cal").cast("bigint").alias("n_cal"), F.col("r").alias("q_alpha"))
    test = (
        folds.filter(F.col("fold") == 2)
        .join(F.broadcast(train_mean), "cat")
        .select("cat", F.abs(F.col("y") - F.col("yhat")).alias("r"))
    )
    return (
        test.join(F.broadcast(q), "cat")
        .groupBy("cat", "n_cal", "q_alpha")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            (
                F.sum(F.when(F.col("r") <= F.col("q_alpha"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("coverage"),
        )
        .orderBy("cat")
    )


@query(
    "events_pmi_cooccurrence",
    oracle="""
    WITH per_user AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
    marg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM per_user GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM per_user a JOIN per_user b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.ta, p.tb, p.c_ab, ma.c AS c_a, mb.c AS c_b,
           ln((CAST(p.c_ab AS DOUBLE) * t.n) / (CAST(ma.c AS DOUBLE) * mb.c)) AS pmi
    FROM pairs p
    JOIN marg ma ON p.ta = ma.event_type
    JOIN marg mb ON p.tb = mb.event_type
    CROSS JOIN n_users t
    ORDER BY p.ta, p.tb
    """,
    tags=("events", "analytics", "ml-eval"),
)
def events_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    a user's history — the association statistic under word embeddings
    (PMI matrix factorization) and basket analysis alike. Distinct
    (user, type) pairs, a user-keyed self-join for co-occurrence
    counts, marginals, then pmi = ln(c_ab·N / (c_a·c_b)). The
    type-pair table is vocabulary²-sized; the self-join fans out per
    user by their distinct-type count, the same bounded-basket shape
    as the market-basket operator."""
    ev = load_table(spark, sf_dir, "events")
    # margins + both join sides (scan-leaf lint)
    per_user = pin(ev.select("user_id", "event_type").distinct())
    n_users = per_user.agg(F.countDistinct("user_id").alias("n"))
    marg = per_user.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a, b = per_user.alias("a"), per_user.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return (
        pairs.join(F.broadcast(marg.select(F.col("event_type").alias("ta"), F.col("c").alias("c_a"))), "ta")
        .join(F.broadcast(marg.select(F.col("event_type").alias("tb"), F.col("c").alias("c_b"))), "tb")
        .crossJoin(F.broadcast(n_users))
        .select(
            "ta",
            "tb",
            "c_ab",
            "c_a",
            "c_b",
            F.log(
                (F.col("c_ab").cast("double") * F.col("n"))
                / (F.col("c_a").cast("double") * F.col("c_b"))
            ).alias("pmi"),
        )
        .orderBy("ta", "tb")
    )


@query(
    "ml_eval_fairness_metrics",
    oracle="""
    WITH scored AS (
        SELECT label % 3 AS grp,
               (label % 2) AS y,
               CASE WHEN CAST(FLOOR((CAST(embedding[1] AS DOUBLE)
                                     + 0.25 * (label % 2)) * 40) AS BIGINT) >= 2
                    THEN 1 ELSE 0 END AS yhat
        FROM embeddings
    ),
    per_grp AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yhat) AS BIGINT) AS pred_pos,
               CAST(SUM(y * yhat) AS BIGINT) AS tp,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM scored GROUP BY grp
    ),
    overall AS (
        SELECT CAST(SUM(pred_pos) AS DOUBLE) / SUM(n) AS rate_all
        FROM per_grp
    )
    SELECT g.grp, g.n,
           CAST(g.pred_pos AS DOUBLE) / g.n AS positive_rate,
           CAST(g.tp AS DOUBLE) / g.pos AS tpr,
           CAST(g.fp AS DOUBLE) / g.neg AS fpr,
           CAST(g.pred_pos AS DOUBLE) / g.n - o.rate_all AS parity_gap,
           ABS(CAST(g.pred_pos AS DOUBLE) / g.n - o.rate_all) > 0.1
               AS parity_violation
    FROM per_grp g CROSS JOIN overall o
    ORDER BY g.grp
    """,
    tags=("llm", "ml-eval", "fairness"),
)
def ml_eval_fairness_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of a thresholded classifier: per protected
    group (a deterministic partition of the labels), the selection rate
    (demographic parity), true-positive rate and false-positive rate
    (equalized odds), each group's parity gap against the overall rate,
    and a 10-point violation flag — the four-fifths-rule style report
    every deployed classifier owes its review board. One grouped count
    pass; every metric is a ratio of exact integers, so flags cannot
    straddle engines."""
    e = load_table(spark, sf_dir, "embeddings")
    yhat = F.when(
        F.floor(
            (F.element_at("embedding", 1).cast("double") + 0.25 * (F.col("label") % 2))
            * 40
        ).cast("bigint")
        >= 2,
        1,
    ).otherwise(0)
    scored = e.select(
        (F.col("label") % 3).alias("grp"),
        (F.col("label") % 2).alias("y"),
        yhat.alias("yhat"),
    )
    per_grp = scored.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yhat").alias("pred_pos"),
        F.sum(F.col("y") * F.col("yhat")).alias("tp"),
        F.sum("y").alias("pos"),
        F.sum((1 - F.col("y")) * F.col("yhat")).alias("fp"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    overall = per_grp.agg(
        (F.sum("pred_pos").cast("double") / F.sum("n")).alias("rate_all")
    )
    rate = F.col("pred_pos").cast("double") / F.col("n")
    return (
        per_grp.crossJoin(F.broadcast(overall))
        .select(
            "grp",
            "n",
            rate.alias("positive_rate"),
            (F.col("tp").cast("double") / F.col("pos")).alias("tpr"),
            (F.col("fp").cast("double") / F.col("neg")).alias("fpr"),
            (rate - F.col("rate_all")).alias("parity_gap"),
            (F.abs(rate - F.col("rate_all")) > 0.1).alias("parity_violation"),
        )
        .orderBy("grp")
    )


@query(
    "ml_eval_learning_curve",
    oracle=f"""
    WITH sweeps AS (SELECT CAST(k AS BIGINT) AS k FROM UNNEST(range(1, 5)) AS t(k)),
    scored AS (
        SELECT s.k,
               (label % 2) AS y,
               CAST(FLOOR((CAST(embedding[1] AS DOUBLE)
                           + 0.25 * (label % 2)) * {SCORE_GRID}) AS BIGINT) AS sc
        FROM embeddings e CROSS JOIN sweeps s
        WHERE e.vec_id % 4 < s.k
    ),
    g AS (
        SELECT k, sc,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM scored GROUP BY k, sc
    ),
    c AS (
        SELECT k, sc, pos, neg,
               CAST(SUM(neg) OVER (PARTITION BY k ORDER BY sc) AS BIGINT) AS cumneg_le,
               CAST(SUM(pos) OVER (PARTITION BY k) AS BIGINT) AS p_tot,
               CAST(SUM(neg) OVER (PARTITION BY k) AS BIGINT) AS n_tot
        FROM g
    )
    SELECT k AS subset_quarters,
           CAST(MAX(p_tot) + MAX(n_tot) AS BIGINT) AS n_rows,
           CAST(SUM(pos * (2 * (cumneg_le - neg) + neg)) AS DOUBLE)
               / (2.0 * MAX(p_tot) * MAX(n_tot)) AS auc
    FROM c
    GROUP BY k
    ORDER BY subset_quarters
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-curve sweep: the AUC of the fixture scorer evaluated on
    nested 25/50/75/100% key-sliced subsets — the diagnostic that says
    whether more data still buys metric (slope at the right edge). The
    subset sweep is a 4-way explode BEFORE the threshold groupBy, so
    all four AUCs come from ONE corpus pass into a (k × score-grid)
    table; each is the same exact integer pair-count as
    ml_eval_auc_pr."""
    e = load_table(spark, sf_dir, "embeddings")
    sweeps = spark.range(1, 5).select(F.col("id").alias("k"))
    sc = F.floor(
        (F.element_at("embedding", 1).cast("double") + 0.25 * (F.col("label") % 2))
        * SCORE_GRID
    ).cast("bigint")
    scored = (
        e.crossJoin(F.broadcast(sweeps))
        .filter(F.col("vec_id") % 4 < F.col("k"))
        .select("k", (F.col("label") % 2).alias("y"), sc.alias("sc"))
    )
    g = scored.groupBy("k", "sc").agg(
        F.sum("y").alias("pos"), (F.count(F.lit(1)) - F.sum("y")).alias("neg")
    )
    wasc = Window.partitionBy("k").orderBy("sc")
    wall = Window.partitionBy("k")
    c = g.select(
        "k",
        "pos",
        "neg",
        F.sum("neg").over(wasc).alias("cumneg_le"),
        F.sum("pos").over(wall).alias("p_tot"),
        F.sum("neg").over(wall).alias("n_tot"),
    )
    return (
        c.groupBy("k")
        .agg(
            (F.max("p_tot") + F.max("n_tot")).alias("n_rows"),
            (
                F.sum(
                    F.col("pos") * (2 * (F.col("cumneg_le") - F.col("neg")) + F.col("neg"))
                ).cast("double")
                / (F.lit(2.0) * F.max("p_tot") * F.max("n_tot"))
            ).alias("auc"),
        )
        .select(F.col("k").alias("subset_quarters"), "n_rows", "auc")
        .orderBy("subset_quarters")
    )


@query(
    "ml_eval_best_f1_threshold",
    oracle=f"""
    WITH {_SQL_CUM},
    metrics AS (
        SELECT model, s,
               CAST(cumpos_ge AS DOUBLE) / (cumpos_ge + cumneg_ge) AS precision_,
               CAST(cumpos_ge AS DOUBLE) / p_tot AS recall_,
               2.0 * cumpos_ge / (cumpos_ge + cumneg_ge + p_tot) AS f1
        FROM c
    ),
    best AS (
        SELECT model, s, precision_, recall_, f1,
               MAX(f1) OVER (PARTITION BY model) AS best_f1
        FROM metrics
    )
    SELECT model, CAST(MIN(s) AS BIGINT) AS best_threshold,
           MAX(best_f1) AS f1,
           MAX(CASE WHEN s = (SELECT MIN(s2.s) FROM best s2
                              WHERE s2.model = best.model AND s2.f1 = s2.best_f1)
                    THEN precision_ END) AS precision_,
           MAX(CASE WHEN s = (SELECT MIN(s2.s) FROM best s2
                              WHERE s2.model = best.model AND s2.f1 = s2.best_f1)
                    THEN recall_ END) AS recall_
    FROM best
    WHERE f1 = best_f1
    GROUP BY model
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_best_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold optimization: the score cut maximizing F1 per
    model, with its precision and recall — the operating-point search
    every binary classifier deployment runs after AUC says the ranking
    is good. The 2·TP/(TP+FP+P) identity computes F1 without ever
    materializing a harmonic mean, the argmax scans the bounded
    threshold table, and ties break to the lowest cut. Exact integer
    ratios throughout."""
    c = _cum(spark, sf_dir)
    f1 = 2.0 * F.col("cumpos_ge") / (F.col("cumpos_ge") + F.col("cumneg_ge") + F.col("p_tot"))
    metrics = c.select(
        "model",
        "s",
        (F.col("cumpos_ge").cast("double") / (F.col("cumpos_ge") + F.col("cumneg_ge"))).alias(
            "precision_"
        ),
        (F.col("cumpos_ge").cast("double") / F.col("p_tot")).alias("recall_"),
        f1.alias("f1"),
    )
    w = Window.partitionBy("model")
    best = metrics.withColumn("best_f1", F.max("f1").over(w)).filter(
        F.col("f1") == F.col("best_f1")
    )
    wmin = Window.partitionBy("model")
    return (
        best.withColumn("min_s", F.min("s").over(wmin))
        .filter(F.col("s") == F.col("min_s"))
        .select(
            "model",
            F.col("s").alias("best_threshold"),
            "f1",
            "precision_",
            "recall_",
        )
        .orderBy("model")
    )


@query(
    "ml_eval_mcnemar_test",
    oracle="""
    WITH preds AS (
        SELECT (label % 2) AS y,
               CASE WHEN CAST(FLOOR((CAST(embedding[1] AS DOUBLE)
                                     + 0.25 * (label % 2)) * 40) AS BIGINT) >= 2
                    THEN 1 ELSE 0 END AS pa,
               CASE WHEN CAST(FLOOR((CAST(embedding[2] AS DOUBLE)
                                     + 0.25 * (label % 2)) * 40) AS BIGINT) >= 2
                    THEN 1 ELSE 0 END AS pb
        FROM embeddings
    ),
    cells AS (
        SELECT CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT)
                   AS both_right,
               CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT)
                   AS both_wrong
        FROM preds
    )
    SELECT b AS a_only_correct, c AS b_only_correct, both_right, both_wrong,
           CASE WHEN b + c = 0 THEN 0.0
                ELSE (ABS(CAST(b AS DOUBLE) - c) - 1.0)
                     * (ABS(CAST(b AS DOUBLE) - c) - 1.0) / (b + c) END AS chi2,
           CASE WHEN b + c = 0 THEN FALSE
                ELSE (ABS(CAST(b AS DOUBLE) - c) - 1.0)
                     * (ABS(CAST(b AS DOUBLE) - c) - 1.0) / (b + c) > 3.841 END
               AS significant_05
    FROM cells
    ORDER BY a_only_correct
    """,
    tags=("llm", "ml-eval", "stats"),
)
def ml_eval_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test with continuity correction — the PAIRED
    comparison of two classifiers on the same examples (model A vs
    model B thresholded on embedding dims 1 vs 2): only the discordant
    cells matter, chi² = (|b−c|−1)²/(b+c) against the 3.841 bar. This
    is the statistically sound way to claim 'model B beats model A'
    on a shared eval set (unpaired tests overstate significance). One
    pass, four conditional counts, constant-size arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")

    def pred(dim: int):
        return F.when(
            F.floor(
                (F.element_at("embedding", dim).cast("double") + 0.25 * (F.col("label") % 2))
                * 40
            ).cast("bigint")
            >= 2,
            1,
        ).otherwise(0)

    preds = e.select(
        (F.col("label") % 2).alias("y"), pred(1).alias("pa"), pred(2).alias("pb")
    )
    cells = preds.agg(
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        ).alias("both_right"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        ).alias("both_wrong"),
    )
    chi2 = F.when(F.col("b") + F.col("c") == 0, F.lit(0.0)).otherwise(
        (F.abs(F.col("b").cast("double") - F.col("c")) - 1.0)
        * (F.abs(F.col("b").cast("double") - F.col("c")) - 1.0)
        / (F.col("b") + F.col("c"))
    )
    sig = F.when(F.col("b") + F.col("c") == 0, F.lit(False)).otherwise(chi2 > 3.841)
    return cells.select(
        F.col("b").alias("a_only_correct"),
        F.col("c").alias("b_only_correct"),
        "both_right",
        "both_wrong",
        chi2.alias("chi2"),
        sig.alias("significant_05"),
    ).orderBy("a_only_correct")


@query(
    "ml_eval_regression_metrics",
    oracle="""
    WITH folds AS (
        SELECT o_orderpriority AS cat, o_totalprice AS y, o_orderkey % 3 AS fold
        FROM orders
    ),
    model AS (
        SELECT cat,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS yhat
        FROM folds WHERE fold < 2 GROUP BY cat
    ),
    test AS (
        SELECT f.y, m.yhat FROM folds f JOIN model m ON f.cat = m.cat
        WHERE f.fold = 2
    ),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS ybar
        FROM test
    )
    SELECT b.n,
           CAST(SUM(CAST(ABS(t.y - t.yhat) AS DECIMAL(28,6))) AS DOUBLE) / b.n AS mae,
           sqrt(CAST(SUM(CAST((t.y - t.yhat) * (t.y - t.yhat) AS DECIMAL(38,6)))
                     AS DOUBLE) / b.n) AS rmse,
           CAST(SUM(CAST(ABS(t.y - t.yhat) / t.y AS DECIMAL(38,12))) AS DOUBLE)
               / b.n AS mape,
           1.0 - CAST(SUM(CAST((t.y - t.yhat) * (t.y - t.yhat) AS DECIMAL(38,6)))
                      AS DOUBLE)
                 / CAST(SUM(CAST((t.y - b.ybar) * (t.y - b.ybar) AS DECIMAL(38,6)))
                        AS DOUBLE) AS r2
    FROM test t CROSS JOIN base b
    GROUP BY b.n, b.ybar
    ORDER BY b.n
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out regression eval: MAE, RMSE, MAPE, and R² of the
    category-mean predictor trained on folds 0-1 and scored on fold 2
    — the regression counterpart of the classification threshold
    suite. Every error moment is a decimal-exact sum of per-row doubles
    computed identically in both engines (positive prices keep MAPE
    well-defined); R² compares against the held-out mean baseline."""
    o = load_table(spark, sf_dir, "orders")
    folds = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderkey") % 3).alias("fold"),
    )
    folds = pin(folds)  # train + test folds (scan-leaf lint)
    model = (
        folds.filter(F.col("fold") < 2)
        .groupBy("cat")
        .agg(
            (F.sum(F.col("y").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
                "yhat"
            )
        )
    )
    test = folds.filter(F.col("fold") == 2).join(F.broadcast(model), "cat").select("y", "yhat")
    base = test.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("y").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
            "ybar"
        ),
    )
    err = F.col("y") - F.col("yhat")
    dev = F.col("y") - F.col("ybar")
    return (
        test.crossJoin(F.broadcast(base))
        .groupBy("n", "ybar")
        .agg(
            (F.sum(F.abs(err).cast("decimal(28,6)")).cast("double") / F.col("n")).alias("mae"),
            F.sqrt(
                F.sum((err * err).cast("decimal(38,6)")).cast("double") / F.col("n")
            ).alias("rmse"),
            (
                F.sum((F.abs(err) / F.col("y")).cast("decimal(38,12)")).cast("double")
                / F.col("n")
            ).alias("mape"),
            (
                F.lit(1.0)
                - F.sum((err * err).cast("decimal(38,6)")).cast("double")
                / F.sum((dev * dev).cast("decimal(38,6)")).cast("double")
            ).alias("r2"),
        )
        .select("n", "mae", "rmse", "mape", "r2")
        .orderBy("n")
    )


@query(
    "ml_eval_model_card",
    oracle=f"""
    WITH {_SQL_CUM},
    aucs AS (
        SELECT model,
               CAST(SUM(pos * (2 * (cumneg_le - neg) + neg)) AS DOUBLE)
                   / (2.0 * MAX(p_tot) * MAX(n_tot)) AS auc,
               CAST(SUM(CAST(pos * ({_SQL_P} - 1.0) * ({_SQL_P} - 1.0)
                             + neg * {_SQL_P} * {_SQL_P}
                             AS DECIMAL(38,12))) AS DOUBLE)
                   / (MAX(p_tot) + MAX(n_tot)) AS brier
        FROM c GROUP BY model
    ),
    ks AS (
        SELECT model, MAX(absdiff) AS ks FROM (
            SELECT model,
                   ABS(CAST(cumpos_le AS DOUBLE) / p_tot
                       - CAST(cumneg_le AS DOUBLE) / n_tot) AS absdiff
            FROM c
        ) GROUP BY model
    ),
    f1s AS (
        SELECT model, MAX(2.0 * cumpos_ge / (cumpos_ge + cumneg_ge + p_tot)) AS best_f1
        FROM c GROUP BY model
    ),
    fair AS (
        SELECT MAX(ABS(CAST(pred_pos AS DOUBLE) / n - rate_all)) AS max_parity_gap
        FROM (
            SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN CAST(FLOOR((CAST(embedding[1] AS DOUBLE)
                                                  + 0.25 * (label % 2)) * 40) AS BIGINT)
                                      >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos
            FROM (SELECT label % 3 AS grp, label, embedding FROM embeddings)
            GROUP BY grp
        ) g CROSS JOIN (
            SELECT CAST(SUM(CASE WHEN CAST(FLOOR((CAST(embedding[1] AS DOUBLE)
                                                  + 0.25 * (label % 2)) * 40) AS BIGINT)
                                      >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                       AS rate_all
            FROM embeddings
        ) o
    )
    SELECT metric, round(value_, 9) AS value_ FROM (
        SELECT concat('auc_', model) AS metric, auc AS value_ FROM aucs
        UNION ALL SELECT concat('brier_', model), brier FROM aucs
        UNION ALL SELECT concat('ks_', model), ks FROM ks
        UNION ALL SELECT concat('best_f1_', model), best_f1 FROM f1s
        UNION ALL SELECT 'max_parity_gap', max_parity_gap FROM fair
    ) t
    ORDER BY metric
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_model_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-card capstone: one (metric, value) report row set
    composing the evaluation family — AUC, Brier, KS separation, best
    F1 per model, and the worst demographic-parity gap — the summary
    table a model registry stores per version. Every component reuses
    the grid-bounded threshold-table machinery, so the whole card
    costs two corpus passes (scores + fairness counts) regardless of
    corpus size."""
    c = pin(_cum(spark, sf_dir))  # multi-consumer (scan-leaf lint)
    p = _p_col()
    aucs = c.groupBy("model").agg(
        (
            F.sum(F.col("pos") * (2 * (F.col("cumneg_le") - F.col("neg")) + F.col("neg"))).cast("double")
            / (F.lit(2.0) * F.max("p_tot") * F.max("n_tot"))
        ).alias("auc"),
        (
            F.sum(
                (F.col("pos") * (p - 1.0) * (p - 1.0) + F.col("neg") * p * p).cast(DEC18)
            ).cast("double")
            / (F.max("p_tot") + F.max("n_tot"))
        ).alias("brier"),
    )
    ks = (
        c.select(
            "model",
            F.abs(
                F.col("cumpos_le").cast("double") / F.col("p_tot")
                - F.col("cumneg_le").cast("double") / F.col("n_tot")
            ).alias("absdiff"),
        )
        .groupBy("model")
        .agg(F.max("absdiff").alias("ks"))
    )
    f1s = c.groupBy("model").agg(
        F.max(
            2.0 * F.col("cumpos_ge") / (F.col("cumpos_ge") + F.col("cumneg_ge") + F.col("p_tot"))
        ).alias("best_f1")
    )
    e = load_table(spark, sf_dir, "embeddings")
    yhat = F.when(
        F.floor(
            (F.element_at("embedding", 1).cast("double") + 0.25 * (F.col("label") % 2)) * 40
        ).cast("bigint")
        >= 2,
        1,
    ).otherwise(0)
    per_grp = e.select((F.col("label") % 3).alias("grp"), yhat.alias("yhat")).groupBy(
        "grp"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("yhat").alias("pred_pos"))
    overall = e.select(yhat.alias("yhat")).agg(
        (F.sum("yhat").cast("double") / F.count(F.lit(1))).alias("rate_all")
    )
    fair = (
        per_grp.crossJoin(F.broadcast(overall))
        .select(
            F.abs(F.col("pred_pos").cast("double") / F.col("n") - F.col("rate_all")).alias(
                "gap"
            )
        )
        .agg(F.max("gap").alias("max_parity_gap"))
    )
    rows = (
        aucs.select(F.concat(F.lit("auc_"), "model").alias("metric"), F.col("auc").alias("value_"))
        .unionByName(
            aucs.select(F.concat(F.lit("brier_"), "model").alias("metric"), F.col("brier").alias("value_"))
        )
        .unionByName(ks.select(F.concat(F.lit("ks_"), "model").alias("metric"), F.col("ks").alias("value_")))
        .unionByName(
            f1s.select(F.concat(F.lit("best_f1_"), "model").alias("metric"), F.col("best_f1").alias("value_"))
        )
        .unionByName(fair.select(F.lit("max_parity_gap").alias("metric"), F.col("max_parity_gap").alias("value_")))
    )
    return rows.select("metric", F.round("value_", 9).alias("value_")).orderBy("metric")


@query(
    "ml_eval_brier_decomposition",
    oracle=f"""
    WITH {_SQL_CUM},
    bins AS (
        SELECT model,
               LEAST(CAST(FLOOR({_SQL_P} * 10) AS BIGINT), 9) AS bin,
               CAST(SUM(pos + neg) AS BIGINT) AS n_b,
               CAST(SUM(CAST((pos + neg) * {_SQL_P} AS DECIMAL(38,12))) AS DOUBLE)
                   / SUM(pos + neg) AS p_b,
               CAST(SUM(pos) AS DOUBLE) / SUM(pos + neg) AS o_b
        FROM c GROUP BY model, bin
    ),
    gstats AS (
        SELECT model,
               CAST(SUM(n_b) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_b * n_b, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   / SUM(n_b) AS obar
        FROM bins GROUP BY model
    ),
    brier AS (
        SELECT model,
               CAST(SUM(CAST(ROUND(pos * ({_SQL_P} - 1) * ({_SQL_P} - 1)
                                   + neg * {_SQL_P} * {_SQL_P}, 12)
                             AS DECIMAL(38,12))) AS DOUBLE)
                   / SUM(pos + neg) AS brier
        FROM c GROUP BY model
    ),
    decomp AS (
        SELECT b.model,
               CAST(SUM(CAST(ROUND(b.n_b * (b.p_b - b.o_b) * (b.p_b - b.o_b), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) / g.n AS reliability,
               CAST(SUM(CAST(ROUND(b.n_b * (b.o_b - g.obar) * (b.o_b - g.obar), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) / g.n AS resolution,
               g.obar * (1 - g.obar) AS uncertainty
        FROM bins b JOIN gstats g ON b.model = g.model
        GROUP BY b.model, g.n, g.obar
    )
    SELECT d.model,
           ROUND(br.brier, 9) AS brier,
           ROUND(d.reliability, 9) AS reliability,
           ROUND(d.resolution, 9) AS resolution,
           ROUND(d.uncertainty, 9) AS uncertainty,
           ROUND(br.brier - (d.reliability - d.resolution + d.uncertainty), 9)
               AS within_bin_residual
    FROM decomp d JOIN brier br ON d.model = br.model
    ORDER BY d.model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score: brier = reliability
    - resolution + uncertainty (+ a within-bin variance residual,
    reported honestly since the bin forecast p_b is a mean, not a
    constant). Reliability isolates calibration error, resolution the
    model's discrimination — the pair tells you whether to recalibrate
    or retrain, which a single Brier number cannot. Computed entirely
    on the threshold table then ten calibration bins — the Brier pass
    and the decomposition are both grid-sized, corpus-independent."""
    p = _p_col()
    bin_ = F.least(F.floor(p * 10).cast("bigint"), F.lit(9).cast("bigint"))
    c = pin(_cum(spark, sf_dir))  # multi-consumer (scan-leaf lint)
    n_rows = F.col("pos") + F.col("neg")
    bins = (
        c.select(
            "model",
            bin_.alias("bin"),
            "pos",
            "neg",
            (n_rows * p).cast(DEC18).alias("wp"),
        )
        .groupBy("model", "bin")
        .agg(
            F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n_b"),
            (F.sum("wp").cast("double") / F.sum(F.col("pos") + F.col("neg"))).alias(
                "p_b"
            ),
            (F.sum("pos").cast("double") / F.sum(F.col("pos") + F.col("neg"))).alias(
                "o_b"
            ),
        )
    )
    glob = bins.groupBy("model").agg(
        F.sum("n_b").cast("bigint").alias("n"),
        (
            F.sum(F.round(F.col("o_b") * F.col("n_b"), 6).cast("decimal(38,6)")).cast(
                "double"
            )
            / F.sum("n_b")
        ).alias("obar"),
    )
    brier = c.groupBy("model").agg(
        (
            F.sum(
                F.round(
                    F.col("pos") * (p - 1) * (p - 1) + F.col("neg") * p * p, 12
                ).cast("decimal(38,12)")
            ).cast("double")
            / F.sum(F.col("pos") + F.col("neg"))
        ).alias("brier")
    )
    decomp = (
        bins.join(glob, "model")
        .groupBy("model", "n", "obar")
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("n_b")
                        * (F.col("p_b") - F.col("o_b"))
                        * (F.col("p_b") - F.col("o_b")),
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double")
                / F.col("n")
            ).alias("reliability"),
            (
                F.sum(
                    F.round(
                        F.col("n_b")
                        * (F.col("o_b") - F.col("obar"))
                        * (F.col("o_b") - F.col("obar")),
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double")
                / F.col("n")
            ).alias("resolution"),
        )
        .select(
            "model",
            "reliability",
            "resolution",
            (F.col("obar") * (1 - F.col("obar"))).alias("uncertainty"),
        )
    )
    return (
        decomp.join(brier, "model")
        .select(
            "model",
            F.round("brier", 9).alias("brier"),
            F.round("reliability", 9).alias("reliability"),
            F.round("resolution", 9).alias("resolution"),
            F.round("uncertainty", 9).alias("uncertainty"),
            F.round(
                F.col("brier")
                - (F.col("reliability") - F.col("resolution") + F.col("uncertainty")),
                9,
            ).alias("within_bin_residual"),
        )
        .orderBy("model")
    )


@query(
    "ml_eval_durbin_watson",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS rf, l_orderkey, l_linenumber,
               l_quantity AS x,
               CAST(CAST(l_extendedprice * 0.0001 AS DECIMAL(18,6)) AS DOUBLE) AS y
        FROM lineitem
    ),
    stats AS (
        SELECT rf, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        FROM pts GROUP BY rf
    ),
    coef AS (
        SELECT rf, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
        FROM stats
    ),
    resid AS (
        SELECT p.rf, round(p.y - c.a - c.b * p.x, 3) AS e,
               LAG(round(p.y - c.a - c.b * p.x, 3)) OVER (
                   PARTITION BY p.rf
                   ORDER BY p.l_orderkey, p.l_linenumber, p.x, p.y
               ) AS e_prev
        FROM pts p JOIN coef c USING (rf)
    )
    SELECT r.rf, CAST(c.n AS BIGINT) AS n, round(c.b, 9) AS slope,
           CAST(SUM(CAST((r.e - r.e_prev) * (r.e - r.e_prev)
                         AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST(r.e * r.e AS DECIMAL(28,6)))
                  AS DOUBLE) AS durbin_watson
    FROM resid r JOIN coef c USING (rf)
    GROUP BY r.rf, c.n, c.b
    ORDER BY r.rf
    """,
    tags=("ml_eval", "regression"),
)
def ml_eval_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson residual-autocorrelation statistic per group: fit
    price-on-quantity OLS from exact decimal moments, score residuals
    row-wise, and compute DW = sum((e_t - e_{t-1})^2) / sum(e_t^2)
    over a deterministic within-group ordering — the standard
    diagnostic that a regression's errors are serially correlated
    (DW ~ 2 means none). Price is pre-scaled by 1e-4 and snapped to a 6-dp grid, and
    residuals to 3 dp, so every summed term is an exact 6-dp rational
    and the decimal(28,6) sums cast to double without last-ulp
    ambiguity (38,12 sums at 1e6 magnitude need 19 sig digits and
    fail the cast).
    At 100 TB: one moment pass (map-side decimal partials), a
    broadcast of the 3-row coefficient table, and one ordered window
    per group — each group sorts within its own partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("rf"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("x"),
        (F.col("l_extendedprice") * 0.0001)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("y"),
    )
    d6 = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    stats = pts.groupBy("rf").agg(
        F.count(F.lit(1)).alias("n"),
        d6(F.col("x")).alias("sx"),
        d6(F.col("y")).alias("sy"),
        d6(F.col("x") * F.col("y")).alias("sxy"),
        d6(F.col("x") * F.col("x")).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coef = stats.select(
        "rf", "n", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a")
    )
    w = Window.partitionBy("rf").orderBy("l_orderkey", "l_linenumber", "x", "y")
    resid = (
        pts.join(F.broadcast(coef), "rf")
        .withColumn(
            "e", F.round(F.col("y") - F.col("a") - F.col("b") * F.col("x"), 3)
        )
        .withColumn("e_prev", F.lag("e").over(w))
    )
    return (
        resid.groupBy("rf", "n", "b")
        .agg(
            (
                d6((F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")))
                / d6(F.col("e") * F.col("e"))
            ).alias("durbin_watson")
        )
        .select(
            "rf",
            F.col("n").cast("bigint").alias("n"),
            F.round("b", 9).alias("slope"),
            "durbin_watson",
        )
        .orderBy("rf")
    )


@query(
    "ml_eval_mutual_information",
    oracle="""
    WITH feat AS (
        SELECT event_type AS x,
               CAST(floor(hour(ts) / 6.0) AS INT) AS y
        FROM events
        UNION ALL
        SELECT 'uid' || CAST(user_id % 4 AS VARCHAR) AS x,
               CAST(event_id % 3 AS INT) AS y
        FROM events
    ),
    cells AS (
        SELECT CASE WHEN x LIKE 'uid%' THEN 'uid_mod4~eid_mod3'
                    ELSE 'event_type~hour_q' END AS pair,
               x, y, COUNT(*) AS c
        FROM feat GROUP BY 1, x, y
    ),
    probs AS (
        SELECT pair, x, y, c,
               CAST(SUM(c) OVER (PARTITION BY pair) AS DOUBLE) AS n,
               CAST(SUM(c) OVER (PARTITION BY pair, x) AS DOUBLE) AS cx,
               CAST(SUM(c) OVER (PARTITION BY pair, y) AS DOUBLE) AS cy
        FROM cells
    ),
    terms AS (
        SELECT pair,
               (c / n) * ln((c / n) / ((cx / n) * (cy / n))) AS mi_term,
               x, y, c, n, cx, cy
        FROM probs
    ),
    hx AS (
        SELECT pair, CAST(SUM(CAST(round(-(cx / n) * ln(cx / n), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE) AS h_x
        FROM (SELECT DISTINCT pair, x, cx, n FROM probs) GROUP BY pair
    ),
    hy AS (
        SELECT pair, CAST(SUM(CAST(round(-(cy / n) * ln(cy / n), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE) AS h_y
        FROM (SELECT DISTINCT pair, y, cy, n FROM probs) GROUP BY pair
    ),
    mi AS (
        SELECT pair, COUNT(*) AS n_cells,
               CAST(SUM(CAST(round(mi_term, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS mi_nats
        FROM terms GROUP BY pair
    )
    SELECT m.pair, CAST(m.n_cells AS BIGINT) AS n_cells, m.mi_nats,
           hx.h_x, hy.h_y,
           round(m.mi_nats / sqrt(hx.h_x * hy.h_y), 9) AS nmi
    FROM mi m JOIN hx USING (pair) JOIN hy USING (pair)
    ORDER BY m.pair
    """,
    tags=("ml_eval", "feature_selection"),
)
def ml_eval_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between categorical feature pairs (the
    sklearn mutual_info_score / feature-selection staple): exact joint
    and marginal counts, MI = sum p(x,y)·ln(p(x,y)/(p(x)p(y))) in
    nats, entropies, and normalized MI. The per-row pass collapses to
    a (pair, x, y) contingency table bounded by the category product
    (~40 cells here), so the windows and entropy sums run on a
    metadata-sized table — the same grid-bounding lever as the
    threshold-table metrics. One scan + one grouped count at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    f1 = ev.select(
        F.lit("event_type~hour_q").alias("pair"),
        F.col("event_type").alias("x"),
        F.floor(F.hour("ts") / 6).cast("int").alias("y"),
    )
    f2 = ev.select(
        F.lit("uid_mod4~eid_mod3").alias("pair"),
        F.concat(F.lit("uid"), (F.col("user_id") % 4).cast("string")).alias("x"),
        (F.col("event_id") % 3).cast("int").alias("y"),
    )
    cells = f1.unionAll(f2).groupBy("pair", "x", "y").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("pair")
    probs = cells.select(
        "pair",
        "x",
        "y",
        "c",
        F.sum("c").over(wp).cast("double").alias("n"),
        F.sum("c").over(Window.partitionBy("pair", "x")).cast("double").alias("cx"),
        F.sum("c").over(Window.partitionBy("pair", "y")).cast("double").alias("cy"),
    )
    probs = pin(probs)  # mi + marginal entropies (scan-leaf lint)
    p = F.col("c") / F.col("n")
    mi_term = p * F.log(p / ((F.col("cx") / F.col("n")) * (F.col("cy") / F.col("n"))))
    mi = probs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.round(mi_term, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("mi_nats"),
    )
    hx = (
        probs.select("pair", "x", "cx", "n")
        .distinct()
        .groupBy("pair")
        .agg(
            F.sum(
                F.round(-(F.col("cx") / F.col("n")) * F.log(F.col("cx") / F.col("n")), 12)
                .cast("decimal(38,12)")
            )
            .cast("double")
            .alias("h_x")
        )
    )
    hy = (
        probs.select("pair", "y", "cy", "n")
        .distinct()
        .groupBy("pair")
        .agg(
            F.sum(
                F.round(-(F.col("cy") / F.col("n")) * F.log(F.col("cy") / F.col("n")), 12)
                .cast("decimal(38,12)")
            )
            .cast("double")
            .alias("h_y")
        )
    )
    return (
        mi.join(hx, "pair")
        .join(hy, "pair")
        .select(
            "pair",
            "n_cells",
            "mi_nats",
            "h_x",
            "h_y",
            F.round(F.col("mi_nats") / F.sqrt(F.col("h_x") * F.col("h_y")), 9).alias(
                "nmi"
            ),
        )
        .orderBy("pair")
    )


@query(
    "ml_eval_isotonic_calibration",
    oracle=f"""
    WITH {_SQL_SCORED},
    g AS (
        SELECT model, s,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM scored GROUP BY model, s
    ),
    c AS (
        SELECT model, s, pos, n,
               CAST(SUM(pos) OVER (PARTITION BY model ORDER BY s) AS BIGINT)
                   AS cp_le,
               CAST(SUM(n) OVER (PARTITION BY model ORDER BY s) AS BIGINT)
                   AS cn_le
        FROM g
    ),
    intervals AS (
        SELECT i.model, i.s AS si, j.s AS sj,
               CAST(j.cp_le - i.cp_le + i.pos AS DOUBLE)
               / (j.cn_le - i.cn_le + i.n) AS iv_avg
        FROM c i JOIN c j ON i.model = j.model AND i.s <= j.s
    ),
    inner_min AS (
        SELECT b.model, b.s, v.si, MIN(v.iv_avg) AS lo
        FROM c b JOIN intervals v
          ON v.model = b.model AND v.si <= b.s AND v.sj >= b.s
        GROUP BY b.model, b.s, v.si
    ),
    fit AS (
        SELECT model, s, MAX(lo) AS fitted FROM inner_min GROUP BY model, s
    )
    SELECT f.model, f.s, g.n,
           round(CAST(g.pos AS DOUBLE) / g.n, 9) AS raw_rate,
           round(f.fitted, 9) AS isotonic_rate
    FROM fit f JOIN g ON f.model = g.model AND f.s = g.s
    ORDER BY f.model, f.s
    """,
    tags=("llm", "ml-eval", "calibration"),
)
def ml_eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (the PAV fit sklearn's
    IsotonicRegression/CalibratedClassifierCV produces), computed by
    the minimax identity fitted(b) = max_{{i<=b}} min_{{j>=b}}
    avg(y[i..j]) — exactly equal to pool-adjacent-violators but
    expressed as joins/aggregations instead of a sequential stack,
    which is what makes it cross-engine-deterministic AND
    distributable. The corpus collapses to the ~40-row score grid
    first (the threshold-table lever), so the interval enumeration is
    grid²-bounded metadata work: one corpus pass at 100 TB, then
    O(G³) tiny-table arithmetic. Interval means are exact integer
    ratios; min/max of identical doubles are identical."""
    g = (
        _scored(spark, sf_dir)
        .groupBy("model", "s")
        .agg(
            F.sum("y").cast("bigint").alias("pos"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    w = Window.partitionBy("model").orderBy("s")
    c = pin(g.select(
        "model",
        "s",
        "pos",
        "n",
        F.sum("pos").over(w).cast("bigint").alias("cp_le"),
        F.sum("n").over(w).cast("bigint").alias("cn_le"),
    ))  # self-joined + bins (scan-leaf lint)
    ci, cj = c.alias("i"), c.alias("j")
    intervals = ci.join(
        cj,
        (F.col("i.model") == F.col("j.model")) & (F.col("i.s") <= F.col("j.s")),
    ).select(
        F.col("i.model").alias("model"),
        F.col("i.s").alias("si"),
        F.col("j.s").alias("sj"),
        (
            (F.col("j.cp_le") - F.col("i.cp_le") + F.col("i.pos")).cast("double")
            / (F.col("j.cn_le") - F.col("i.cn_le") + F.col("i.n"))
        ).alias("iv_avg"),
    )
    bins = c.select("model", "s").alias("b")
    inner_min = (
        bins.join(
            intervals.alias("v"),
            (F.col("v.model") == F.col("b.model"))
            & (F.col("v.si") <= F.col("b.s"))
            & (F.col("v.sj") >= F.col("b.s")),
        )
        .groupBy(F.col("b.model").alias("model"), F.col("b.s").alias("s"), "v.si")
        .agg(F.min("v.iv_avg").alias("lo"))
    )
    fit = inner_min.groupBy("model", "s").agg(F.max("lo").alias("fitted"))
    return (
        fit.join(g, ["model", "s"])
        .select(
            "model",
            "s",
            "n",
            F.round(F.col("pos").cast("double") / F.col("n"), 9).alias("raw_rate"),
            F.round("fitted", 9).alias("isotonic_rate"),
        )
        .orderBy("model", "s")
    )


@query(
    "ml_eval_ece_mce",
    oracle=f"""
    WITH {_SQL_SCORED},
    g AS (
        SELECT model, s,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM scored GROUP BY model, s
    ),
    binned AS (
        SELECT model,
               LEAST(CAST(FLOOR({_SQL_P} * 10) AS BIGINT), 9) AS bin,
               SUM(CAST(n * {_SQL_P} AS DECIMAL(28,6))) AS wp,
               CAST(SUM(pos) AS BIGINT) AS pos,
               CAST(SUM(n) AS BIGINT) AS n
        FROM g GROUP BY model, 2
    ),
    tot AS (SELECT model, CAST(SUM(n) AS BIGINT) AS n_tot
            FROM binned GROUP BY model),
    per_bin AS (
        SELECT b.model, b.bin, b.n, t.n_tot,
               ABS(CAST(b.pos AS DOUBLE) / b.n
                   - CAST(b.wp AS DOUBLE) / b.n) AS gap
        FROM binned b JOIN tot t ON b.model = t.model
    )
    SELECT model,
           round(CAST(SUM(CAST(round(gap * n, 6) AS DECIMAL(28,6)))
                      AS DOUBLE) / MAX(n_tot), 9) AS ece,
           round(MAX(gap), 9) AS mce,
           CAST(COUNT(*) AS BIGINT) AS n_bins
    FROM per_bin
    GROUP BY model
    ORDER BY model
    """,
    tags=("llm", "ml-eval", "calibration"),
)
def ml_eval_ece_mce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error over 10 equal-width
    probability bins: ECE = Σ (n_b/N)·|acc_b − conf_b|, MCE = max gap
    — the headline calibration scalars reported next to reliability
    diagrams. Derived entirely from the grid-bounded threshold table
    (probabilities use the rational squash, no transcendentals); the
    weighted gap sum snaps to 6 dp before its decimal(28,6)
    accumulation so both engines cast identically."""
    p = _p_col()
    bin_ = F.least(F.floor(p * 10).cast("bigint"), F.lit(9).cast("bigint"))
    g = (
        _scored(spark, sf_dir)
        .groupBy("model", "s")
        .agg(
            F.sum("y").cast("bigint").alias("pos"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    binned = g.select(
        "model", bin_.alias("bin"), "pos", "n", (F.col("n") * p).alias("wp_term")
    ).groupBy("model", "bin").agg(
        F.sum(F.col("wp_term").cast("decimal(28,6)")).alias("wp"),
        F.sum("pos").cast("bigint").alias("pos"),
        F.sum("n").cast("bigint").alias("n"),
    )
    binned = pin(binned)  # tot + per-bin (scan-leaf lint)
    tot = binned.groupBy("model").agg(F.sum("n").cast("bigint").alias("n_tot"))
    gap = F.abs(
        F.col("pos").cast("double") / F.col("n")
        - F.col("wp").cast("double") / F.col("n")
    )
    per_bin = binned.join(tot, "model").select(
        "model", "bin", "n", "n_tot", gap.alias("gap")
    )
    return (
        per_bin.groupBy("model")
        .agg(
            F.round(
                F.sum(F.round(F.col("gap") * F.col("n"), 6).cast("decimal(28,6)"))
                .cast("double")
                / F.max("n_tot"),
                9,
            ).alias("ece"),
            F.round(F.max("gap"), 9).alias("mce"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        )
        .orderBy("model")
    )


# fixed linear scorer for the permutation-importance probe: pinned
# weights over the first three embedding dims (w·x > 0 predicts y=1)
_PI_W = (1.8, 1.1, 0.4)
_PI_SHIFT = 0.25  # class-conditional shift, same as the _scored fixture


@query(
    "ml_eval_permutation_importance",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, (label % 2) AS y,
               CAST(embedding[1] AS DOUBLE) + {_PI_SHIFT} * (label % 2) AS f1,
               CAST(embedding[2] AS DOUBLE) AS f2,
               CAST(embedding[3] AS DOUBLE) AS f3
        FROM embeddings
    ),
    ranked AS (
        SELECT b.*,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rid,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '#perm'),
                                  vec_id) AS prid
        FROM base b
    ),
    perm AS (
        SELECT a.rid, a.y, a.f1, a.f2, a.f3,
               p1.f1 AS pf1, p2.f2 AS pf2, p3.f3 AS pf3
        FROM ranked a
        JOIN ranked p1 ON p1.prid = a.rid
        JOIN ranked p2 ON p2.prid = a.rid
        JOIN ranked p3 ON p3.prid = a.rid
    ),
    scored AS (
        SELECT y,
               CASE WHEN {_PI_W[0]!r} * f1 + {_PI_W[1]!r} * f2
                         + {_PI_W[2]!r} * f3 > 0 THEN 1 ELSE 0 END AS p0,
               CASE WHEN {_PI_W[0]!r} * pf1 + {_PI_W[1]!r} * f2
                         + {_PI_W[2]!r} * f3 > 0 THEN 1 ELSE 0 END AS p1,
               CASE WHEN {_PI_W[0]!r} * f1 + {_PI_W[1]!r} * pf2
                         + {_PI_W[2]!r} * f3 > 0 THEN 1 ELSE 0 END AS p2,
               CASE WHEN {_PI_W[0]!r} * f1 + {_PI_W[1]!r} * f2
                         + {_PI_W[2]!r} * pf3 > 0 THEN 1 ELSE 0 END AS p3
        FROM perm
    ),
    acc AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN p0 = y THEN 1 ELSE 0 END) AS a0,
               SUM(CASE WHEN p1 = y THEN 1 ELSE 0 END) AS a1,
               SUM(CASE WHEN p2 = y THEN 1 ELSE 0 END) AS a2,
               SUM(CASE WHEN p3 = y THEN 1 ELSE 0 END) AS a3
        FROM scored
    )
    SELECT f.feature,
           round(CAST(a0 AS DOUBLE) / n, 9) AS baseline_acc,
           round(CAST(CASE f.feature WHEN 'f1' THEN a1
                                     WHEN 'f2' THEN a2
                                     ELSE a3 END AS DOUBLE) / n, 9)
               AS permuted_acc,
           round(CAST(a0 - CASE f.feature WHEN 'f1' THEN a1
                                          WHEN 'f2' THEN a2
                                          ELSE a3 END AS DOUBLE) / n, 9)
               AS importance
    FROM acc, (SELECT 'f1' AS feature UNION ALL SELECT 'f2'
               UNION ALL SELECT 'f3') f
    ORDER BY f.feature
    """,
    tags=("llm", "ml-eval", "feature_selection"),
)
def ml_eval_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance (Breiman's model-agnostic
    importance, sklearn's permutation_importance): break one feature's
    association with the label by re-dealing its column under a
    deterministic md5-rank permutation, re-score a fixed linear
    classifier, and report the accuracy drop per feature. The
    permutation is a rank self-join (identity rank joined to the
    md5-shuffled rank) — replayable in both engines, unlike an RNG
    shuffle. Both ranks are genuinely distributed
    (operators.prefix.distributed_rank: range repartition +
    per-partition row numbers + broadcast offsets — never a
    single-partition window over the vector table), and the
    materialized ranked frame feeds the three permutation equi-joins
    without re-evaluation. One final pass scores baseline and all
    three permuted variants together."""
    from supabase_etl_spark.operators.prefix import distributed_rank

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        (F.col("label") % 2).alias("y"),
        (
            F.element_at("embedding", 1).cast("double")
            + _PI_SHIFT * (F.col("label") % 2)
        ).alias("f1"),
        F.element_at("embedding", 2).cast("double").alias("f2"),
        F.element_at("embedding", 3).cast("double").alias("f3"),
    )
    ranked = distributed_rank(base, [F.asc("vec_id")], out="rid")
    ranked = distributed_rank(
        ranked,
        [
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("#perm"))).asc(),
            F.asc("vec_id"),
        ],
        out="prid",
    )
    a = ranked.alias("a")
    perm = (
        a.join(
            ranked.select(F.col("prid").alias("j1"), F.col("f1").alias("pf1")),
            F.col("j1") == F.col("a.rid"),
        )
        .join(
            ranked.select(F.col("prid").alias("j2"), F.col("f2").alias("pf2")),
            F.col("j2") == F.col("a.rid"),
        )
        .join(
            ranked.select(F.col("prid").alias("j3"), F.col("f3").alias("pf3")),
            F.col("j3") == F.col("a.rid"),
        )
    )
    w1, w2, w3 = _PI_W

    def pred(c1, c2, c3):
        return F.when(w1 * c1 + w2 * c2 + w3 * c3 > 0, 1).otherwise(0)

    scored = perm.select(
        F.col("a.y").alias("y"),
        pred(F.col("a.f1"), F.col("a.f2"), F.col("a.f3")).alias("p0"),
        pred(F.col("pf1"), F.col("a.f2"), F.col("a.f3")).alias("p1"),
        pred(F.col("a.f1"), F.col("pf2"), F.col("a.f3")).alias("p2"),
        pred(F.col("a.f1"), F.col("a.f2"), F.col("pf3")).alias("p3"),
    )
    acc = scored.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col(f"p{i}") == F.col("y"), 1).otherwise(0)).alias(f"a{i}")
            for i in range(4)
        ],
    )
    feats = spark.createDataFrame([("f1",), ("f2",), ("f3",)], "feature string")
    permuted = (
        F.when(F.col("feature") == "f1", F.col("a1"))
        .when(F.col("feature") == "f2", F.col("a2"))
        .otherwise(F.col("a3"))
    )
    return (
        acc.crossJoin(F.broadcast(feats))
        .select(
            "feature",
            F.round(F.col("a0").cast("double") / F.col("n"), 9).alias("baseline_acc"),
            F.round(permuted.cast("double") / F.col("n"), 9).alias("permuted_acc"),
            F.round((F.col("a0") - permuted).cast("double") / F.col("n"), 9).alias(
                "importance"
            ),
        )
        .orderBy("feature")
    )


PSM_CALIPER = 0.05


@query(
    "ml_eval_propensity_matching",
    oracle=f"""
    WITH units AS (
        SELECT c_custkey, c_acctbal AS y,
               CAST(c_custkey % 2 AS INT) AS treated,
               c_mktsegment AS seg, c_nationkey AS nat
        FROM customer
    ),
    cells AS (
        SELECT seg, nat,
               CAST(SUM(treated) AS DOUBLE) / COUNT(*) AS score
        FROM units GROUP BY seg, nat
    ),
    scored AS (
        SELECT u.c_custkey, u.y, u.treated, c.score,
               CAST(FLOOR(c.score / {PSM_CALIPER!r}) AS BIGINT) AS bucket
        FROM units u JOIN cells c ON u.seg = c.seg AND u.nat = c.nat
    ),
    treated AS (SELECT * FROM scored WHERE treated = 1),
    controls AS (SELECT * FROM scored WHERE treated = 0),
    cand AS (
        SELECT t.c_custkey AS t_key, t.y AS y_t, t.score AS s_t,
               c.c_custkey AS c_key, c.y AS y_c,
               ABS(t.score - c.score) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY t.c_custkey
                   ORDER BY ABS(t.score - c.score), c.c_custkey
               ) AS rn
        FROM treated t
        JOIN (SELECT DISTINCT o FROM (VALUES (-1), (0), (1)) v(o)) off ON TRUE
        JOIN controls c ON c.bucket = t.bucket + off.o
        WHERE ABS(t.score - c.score) <= {PSM_CALIPER!r}
    ),
    matched AS (SELECT * FROM cand WHERE rn = 1),
    att AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(CAST(y_t - y_c AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS att
        FROM matched
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM treated) AS n_treated,
           a.n_matched,
           round(CAST(a.n_matched AS DOUBLE)
                 / (SELECT COUNT(*) FROM treated), 9) AS match_rate,
           round(a.att, 6) AS att
    FROM att a
    """,
    tags=("llm", "ml-eval", "causal"),
)
def ml_eval_propensity_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching ATT (the nearest-neighbor causal
    design next to the IPW estimator): each treated unit matches its
    closest control by propensity score within a caliper (1-NN with
    replacement, deterministic ties by key), and the effect is the
    mean matched outcome difference. Scores are exact cell-level
    treatment rates (stratified propensity). Scale: candidate
    generation is a BUCKET-banded equi-join (caliper-wide score
    buckets x 3 neighbor offsets), never treated x controls — the
    same banding that keeps the as-of joins linear; the 1-NN pick is
    a per-treated window on the banded candidates."""
    cust = load_table(spark, sf_dir, "customer")
    units = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("y"),
        (F.col("c_custkey") % 2).cast("int").alias("treated"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    )
    units = pin(units)  # cells + scoring (scan-leaf lint)
    cells = units.groupBy("seg", "nat").agg(
        (F.sum("treated").cast("double") / F.count(F.lit(1))).alias("score")
    )
    scored = units.join(F.broadcast(cells), ["seg", "nat"]).select(
        "c_custkey",
        "y",
        "treated",
        "score",
        F.floor(F.col("score") / PSM_CALIPER).cast("bigint").alias("bucket"),
    )
    scored = pin(scored)  # treated + control sides (scan-leaf lint)
    treated = scored.filter(F.col("treated") == 1).select(
        F.col("c_custkey").alias("t_key"),
        F.col("y").alias("y_t"),
        F.col("score").alias("s_t"),
        F.col("bucket").alias("t_bucket"),
    )
    controls = scored.filter(F.col("treated") == 0).select(
        F.col("c_custkey").alias("c_key"),
        F.col("y").alias("y_c"),
        F.col("score").alias("s_c"),
        F.col("bucket").alias("c_bucket"),
    )
    offs = spark.createDataFrame([(-1,), (0,), (1,)], "o int")
    cand = (
        treated.crossJoin(F.broadcast(offs))
        .withColumn("probe", F.col("t_bucket") + F.col("o"))
        .join(controls, F.col("probe") == F.col("c_bucket"))
        .filter(F.abs(F.col("s_t") - F.col("s_c")) <= PSM_CALIPER)
    )
    w = Window.partitionBy("t_key").orderBy(
        F.abs(F.col("s_t") - F.col("s_c")), "c_key"
    )
    matched = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    att = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        (
            F.sum((F.col("y_t") - F.col("y_c")).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("att"),
    )
    n_treated = treated.agg(F.count(F.lit(1)).cast("bigint").alias("n_treated"))
    return att.crossJoin(F.broadcast(n_treated)).select(
        "n_treated",
        "n_matched",
        F.round(F.col("n_matched").cast("double") / F.col("n_treated"), 9).alias(
            "match_rate"
        ),
        F.round("att", 6).alias("att"),
    )


COST_FN = 5.0  # cost of a missed positive
COST_FP = 1.0  # cost of a false alarm


@query(
    "ml_eval_cost_curve",
    oracle=f"""
    WITH {_SQL_CUM}
    SELECT model, s AS threshold,
           CAST(cumneg_ge - neg AS BIGINT) + neg AS predicted_pos_neg,
           round(({COST_FN!r} * (p_tot - cumpos_ge)
                  + {COST_FP!r} * cumneg_ge)
                 / (p_tot + n_tot), 9) AS expected_cost_ge,
           CAST(p_tot - cumpos_ge AS BIGINT) AS fn_count,
           CAST(cumneg_ge AS BIGINT) AS fp_count
    FROM c
    ORDER BY model, threshold
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive threshold curve: for every score threshold (rows
    with s >= t predicted positive), the normalized expected cost
    cost_fn·FN + cost_fp·FP — the decision layer on top of the ROC
    machinery that picks the OPERATING threshold when errors are
    asymmetric (missing a bad document costs 5x a false alarm here).
    Pure integer cumulatives on the grid-bounded threshold table, the
    same one corpus pass every eval metric shares; the argmin row is
    the deployable threshold."""
    return (
        _cum(spark, sf_dir)
        .select(
            "model",
            F.col("s").alias("threshold"),
            (F.col("cumneg_ge") - F.col("neg") + F.col("neg"))
            .cast("bigint")
            .alias("predicted_pos_neg"),
            F.round(
                (
                    COST_FN * (F.col("p_tot") - F.col("cumpos_ge"))
                    + COST_FP * F.col("cumneg_ge")
                )
                / (F.col("p_tot") + F.col("n_tot")),
                9,
            ).alias("expected_cost_ge"),
            (F.col("p_tot") - F.col("cumpos_ge")).cast("bigint").alias("fn_count"),
            F.col("cumneg_ge").cast("bigint").alias("fp_count"),
        )
        .orderBy("model", "threshold")
    )


@query(
    "ml_eval_doubly_robust_ate",
    oracle="""
    WITH units AS (
        SELECT c_custkey, c_acctbal AS y,
               CAST(c_custkey % 2 AS INT) AS tr,
               c_mktsegment AS seg, c_nationkey AS nat
        FROM customer
    ),
    cells AS (
        SELECT seg, nat,
               CAST(SUM(tr) AS DOUBLE) / COUNT(*) AS e,
               CAST(SUM(CASE WHEN tr = 1
                    THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE)
               / NULLIF(SUM(tr), 0) AS m1,
               CAST(SUM(CASE WHEN tr = 0
                    THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE)
               / NULLIF(SUM(1 - tr), 0) AS m0
        FROM units GROUP BY seg, nat
        HAVING SUM(tr) > 0 AND SUM(1 - tr) > 0
    ),
    scored AS (
        SELECT u.y, u.tr, c.e, c.m1, c.m0,
               c.m1 - c.m0
               + u.tr * (u.y - c.m1) / c.e
               - (1 - u.tr) * (u.y - c.m0) / (1 - c.e) AS psi
        FROM units u JOIN cells c ON u.seg = c.seg AND u.nat = c.nat
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
           round(CAST(SUM(CAST(round(psi, 6) AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS dr_ate,
           round(CAST(SUM(CAST(round(m1 - m0, 6) AS DECIMAL(28,6)))
                      AS DOUBLE) / COUNT(*), 6) AS outcome_model_ate
    FROM scored
    """,
    tags=("llm", "ml-eval", "causal"),
)
def ml_eval_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect: the influence
    function psi = m1(x) − m0(x) + T(y−m1)/e − (1−T)(y−m0)/(1−e)
    combines the stratified outcome model with inverse-propensity
    residual corrections — consistent if EITHER model is right, the
    estimator production causal pipelines prefer over plain IPW
    (ml_eval_ipw_ate) or matching (ml_eval_propensity_matching),
    completing the causal family. Cell models and propensities come
    from one grouped pass (degenerate all-treated/all-control cells
    excluded, as AIPW requires overlap); psi snaps to 6 dp before
    exact decimal averaging. One scan + one broadcast cell join."""
    cust = load_table(spark, sf_dir, "customer")
    units = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("y"),
        (F.col("c_custkey") % 2).cast("int").alias("tr"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    )
    cells = (
        units.groupBy("seg", "nat")
        .agg(
            (F.sum("tr").cast("double") / F.count(F.lit(1))).alias("e"),
            (
                F.sum(
                    F.when(F.col("tr") == 1, F.col("y").cast("decimal(28,6)"))
                ).cast("double")
                / F.sum("tr")
            ).alias("m1"),
            (
                F.sum(
                    F.when(F.col("tr") == 0, F.col("y").cast("decimal(28,6)"))
                ).cast("double")
                / F.sum(1 - F.col("tr"))
            ).alias("m0"),
            F.sum("tr").alias("nt"),
            F.sum(1 - F.col("tr")).alias("nc"),
        )
        .filter((F.col("nt") > 0) & (F.col("nc") > 0))
        .select("seg", "nat", "e", "m1", "m0")
    )
    psi = (
        F.col("m1")
        - F.col("m0")
        + F.col("tr") * (F.col("y") - F.col("m1")) / F.col("e")
        - (1 - F.col("tr")) * (F.col("y") - F.col("m0")) / (1 - F.col("e"))
    )
    scored = units.join(F.broadcast(cells), ["seg", "nat"]).select(
        psi.alias("psi"), (F.col("m1") - F.col("m0")).alias("om")
    )
    d6 = lambda c: F.sum(F.round(c, 6).cast("decimal(28,6)")).cast("double")  # noqa: E731
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.round(d6(F.col("psi")) / F.count(F.lit(1)), 6).alias("dr_ate"),
        F.round(d6(F.col("om")) / F.count(F.lit(1)), 6).alias("outcome_model_ate"),
    )


_Z975 = "1.959963984540054"  # Phi^-1(0.975), string-cast to avoid decimal-literal double-rounding


@query(
    "ml_eval_delong_auc_ci",
    oracle=f"""
    WITH {_SQL_CUM},
    auc AS (
        SELECT model,
               CAST(SUM(pos * (2 * (cumneg_le - neg) + neg)) AS DOUBLE)
                   / (2.0 * MAX(p_tot) * MAX(n_tot)) AS auc,
               MAX(p_tot) AS m, MAX(n_tot) AS n
        FROM c GROUP BY model
    ),
    dev AS (
        SELECT c.model,
               c.pos * POWER(CAST(2 * (c.cumneg_le - c.neg) + c.neg AS DOUBLE)
                             / (2.0 * c.n_tot) - a.auc, 2) AS t10,
               c.neg * POWER(CAST(2 * (c.cumpos_ge - c.pos) + c.pos AS DOUBLE)
                             / (2.0 * c.p_tot) - a.auc, 2) AS t01
        FROM c JOIN auc a ON c.model = a.model
    ),
    s AS (
        SELECT model,
               CAST(SUM(CAST(t10 AS DECIMAL(38,12))) AS DOUBLE) AS s10_num,
               CAST(SUM(CAST(t01 AS DECIMAL(38,12))) AS DOUBLE) AS s01_num
        FROM dev GROUP BY model
    )
    SELECT a.model, round(a.auc, 9) AS auc,
           round(sqrt(s.s10_num / (a.m - 1) / a.m + s.s01_num / (a.n - 1) / a.n), 9)
               AS se_delong,
           round(a.auc - CAST('{_Z975}' AS DOUBLE)
                 * sqrt(s.s10_num / (a.m - 1) / a.m + s.s01_num / (a.n - 1) / a.n), 9)
               AS ci_lo,
           round(a.auc + CAST('{_Z975}' AS DOUBLE)
                 * sqrt(s.s10_num / (a.m - 1) / a.m + s.s01_num / (a.n - 1) / a.n), 9)
               AS ci_hi
    FROM auc a JOIN s ON a.model = s.model
    ORDER BY a.model
    """,
    tags=("llm", "ml-eval", "statistics"),
)
def ml_eval_delong_auc_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong (1988) nonparametric AUC standard error and 95% CI — the
    inference companion to ml_eval_auc_pr (a point AUC without a CI is
    uninterpretable when comparing two curation classifiers). Placement
    values collapse onto the score grid: every positive in cell s
    shares V10 = (#neg below + ½·#neg tied)/n, so the variance of the
    placements is a weighted sum over GRID cells (~40 rows), never a
    per-row pass — the same quantization lever as the rest of this
    module. var(AUC) = S10/m + S01/n with S10/S01 the sample variances
    of the positive/negative placements.

    Exactness: placements and AUC are ratios of exact integers evaluated
    by identical double expressions; squared deviations (≤0.25, 0 int
    digits) sum through decimal(38,12) inside the 15-sig-digit
    cross-engine agreement window; z_{{0.975}} is a string-cast literal
    (decimal-literal parsing double-rounds 1 ulp in DuckDB)."""
    c = pin(_cum(spark, sf_dir))  # multi-consumer (scan-leaf lint)
    auc = c.groupBy("model").agg(
        (
            F.sum(F.col("pos") * (2 * (F.col("cumneg_le") - F.col("neg")) + F.col("neg"))).cast("double")
            / (F.lit(2.0) * F.max("p_tot") * F.max("n_tot"))
        ).alias("auc"),
        F.max("p_tot").alias("m"),
        F.max("n_tot").alias("n"),
    )
    v10 = (2 * (F.col("cumneg_le") - F.col("neg")) + F.col("neg")).cast("double") / (
        F.lit(2.0) * F.col("n_tot")
    )
    v01 = (2 * (F.col("cumpos_ge") - F.col("pos")) + F.col("pos")).cast("double") / (
        F.lit(2.0) * F.col("p_tot")
    )
    dev = c.join(F.broadcast(auc), "model").select(
        "model",
        (F.col("pos") * F.pow(v10 - F.col("auc"), 2)).alias("t10"),
        (F.col("neg") * F.pow(v01 - F.col("auc"), 2)).alias("t01"),
    )
    s = dev.groupBy("model").agg(
        F.sum(F.col("t10").cast(DEC18)).cast("double").alias("s10_num"),
        F.sum(F.col("t01").cast(DEC18)).cast("double").alias("s01_num"),
    )
    z = F.expr(f"CAST('{_Z975}' AS DOUBLE)")
    se = F.sqrt(
        F.col("s10_num") / (F.col("m") - 1) / F.col("m")
        + F.col("s01_num") / (F.col("n") - 1) / F.col("n")
    )
    return (
        auc.join(s, "model")
        .select(
            "model",
            F.round("auc", 9).alias("auc"),
            F.round(se, 9).alias("se_delong"),
            F.round(F.col("auc") - z * se, 9).alias("ci_lo"),
            F.round(F.col("auc") + z * se, 9).alias("ci_hi"),
        )
        .orderBy("model")
    )


RDD_BANDWIDTH = 2000.0  # local-linear window on each side of the cutoff


@query(
    "ml_eval_regression_discontinuity",
    oracle=f"""
    WITH outcome AS (
        SELECT c.c_custkey, c.c_acctbal AS x,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE abs(c.c_acctbal) <= {RDD_BANDWIDTH!r} AND c.c_acctbal <> 0
        GROUP BY 1, 2
    ),
    sides AS (
        SELECT CASE WHEN x > 0 THEN 'right' ELSE 'left' END AS side,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x * y AS DECIMAL(38,2))) AS DOUBLE) AS sxy
        FROM outcome GROUP BY 1
    ),
    fit AS (
        SELECT side, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
        FROM sides
    )
    SELECT l.n AS n_left, r.n AS n_right,
           round(l.a, 9) AS intercept_left,
           round(r.a, 9) AS intercept_right,
           round(l.b, 9) AS slope_left,
           round(r.b, 9) AS slope_right,
           round(r.a - l.a, 9) AS rdd_effect
    FROM (SELECT * FROM fit WHERE side = 'left') l
    CROSS JOIN (SELECT * FROM fit WHERE side = 'right') r
    """,
    tags=("llm", "ml-eval", "causal"),
)
def ml_eval_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimator (Thistlethwaite &
    Campbell 1960; Imbens & Lemieux 2008 local-linear form) — the
    causal design the IPW/AIPW/matching family can't cover: treatment
    assigned by a threshold on a running variable (account balance ≥ 0
    here), effect = the jump between the two local-linear fits at the
    cutoff. Outcome: per-customer order count; bandwidth ±2000.

    Exactness: each side's OLS reduces to five sufficient statistics —
    exact decimal sums with the scale tracked per term (x has 2 true
    decimals, x² exactly 4, x·y exactly 2) — and the closed-form
    slope/intercept algebra is the same double expression both sides,
    rounded to 9. Scale: one join-groupBy for the outcome (the corpus
    pass), then a 2-row fit table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    outcome = (
        c.filter((F.abs("c_acctbal") <= RDD_BANDWIDTH) & (F.col("c_acctbal") != 0))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", F.col("c_acctbal").alias("x"))
        .agg(F.count("o_orderkey").cast("bigint").alias("y"))
    )
    x, y = F.col("x"), F.col("y")
    outcome = pin(outcome)  # shared frame (scan-leaf lint)
    sides = outcome.groupBy(
        F.when(x > 0, "right").otherwise("left").alias("side")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x.cast("decimal(28,2)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(28,0)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum((x * y).cast("decimal(38,2)")).cast("double").alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    a = (F.col("sy") - b * F.col("sx")) / F.col("n")
    fit = sides.select("side", "n", b.alias("b"), a.alias("a"))
    left = fit.filter(F.col("side") == "left").select(
        F.col("n").alias("n_left"), F.col("a").alias("al"), F.col("b").alias("bl")
    )
    right = fit.filter(F.col("side") == "right").select(
        F.col("n").alias("n_right"), F.col("a").alias("ar"), F.col("b").alias("br")
    )
    return left.crossJoin(right).select(
        "n_left",
        "n_right",
        F.round("al", 9).alias("intercept_left"),
        F.round("ar", 9).alias("intercept_right"),
        F.round("bl", 9).alias("slope_left"),
        F.round("br", 9).alias("slope_right"),
        F.round(F.col("ar") - F.col("al"), 9).alias("rdd_effect"),
    )


@query(
    "ml_eval_mcc",
    oracle=f"""
    WITH {_SQL_SCORED},
    conf AS (
        SELECT model,
               CAST(SUM(CASE WHEN s > 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN s > 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN s <= 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(SUM(CASE WHEN s <= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM scored GROUP BY model
    )
    SELECT model, tp, fp, tn, fn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 9)
               AS mcc
    FROM conf
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient at the natural threshold
    (score > 0 ⇔ squashed probability > ½) — the single-number
    confusion summary that stays honest under class imbalance where
    accuracy and F1 both flatter (Chicco & Jurman 2020). MCC =
    (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)).

    Exactness: the four cells are exact integers from one aggregate;
    products are computed in DOUBLE with identical association order
    both sides (the raw integer product would overflow int64 at corpus
    scale), and √ is IEEE-correctly-rounded."""
    s = _scored(spark, sf_dir)
    pos = F.col("s") > 0
    conf = s.groupBy("model").agg(
        F.sum((pos & (F.col("y") == 1)).cast("int")).cast("bigint").alias("tp"),
        F.sum((pos & (F.col("y") == 0)).cast("int")).cast("bigint").alias("fp"),
        F.sum((~pos & (F.col("y") == 0)).cast("int")).cast("bigint").alias("tn"),
        F.sum((~pos & (F.col("y") == 1)).cast("int")).cast("bigint").alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c) for c in ("tp", "fp", "tn", "fn"))
    mcc = (tp.cast("double") * tn - fp.cast("double") * fn) / F.sqrt(
        (tp + fp).cast("double")
        * (tp + fn).cast("double")
        * (tn + fp).cast("double")
        * (tn + fn).cast("double")
    )
    return conf.select(
        "model", "tp", "fp", "tn", "fn", F.round(mcc, 9).alias("mcc")
    ).orderBy("model")


@query(
    "ml_eval_youden_diagnostic_lr",
    oracle=f"""
    WITH {_SQL_CUM},
    rates AS (
        SELECT model, s,
               CAST(cumpos_ge AS DOUBLE) / p_tot AS tpr,
               CAST(cumneg_ge AS DOUBLE) / n_tot AS fpr
        FROM c
    ),
    j AS (
        SELECT model, s, tpr, fpr, round(tpr - fpr, 12) AS youden_j,
               ROW_NUMBER() OVER (PARTITION BY model
                                  ORDER BY round(tpr - fpr, 12) DESC, s) AS rn
        FROM rates
    )
    SELECT model, s AS best_threshold,
           round(tpr, 9) AS tpr, round(fpr, 9) AS fpr,
           round(youden_j, 9) AS youden_j,
           round(tpr / fpr, 9) AS lr_positive,
           round((1.0 - tpr) / (1.0 - fpr), 9) AS lr_negative
    FROM j WHERE rn = 1
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_youden_diagnostic_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden's J threshold selection (J = TPR − FPR, the ROC point
    farthest above chance) plus the diagnostic likelihood ratios at
    that operating point (LR+ = TPR/FPR, LR− = (1−TPR)/(1−FPR)) — the
    epidemiology-style summary that complements best-F1 (prevalence-
    dependent) with a prevalence-FREE operating point. Runs entirely
    on the ~40-row score-grid table; J quantizes at 1e-12 before the
    argmax with a threshold tie-break."""
    c = _cum(spark, sf_dir)
    rates = c.select(
        "model",
        "s",
        (F.col("cumpos_ge").cast("double") / F.col("p_tot")).alias("tpr"),
        (F.col("cumneg_ge").cast("double") / F.col("n_tot")).alias("fpr"),
    )
    jcol = F.round(F.col("tpr") - F.col("fpr"), 12)
    w = Window.partitionBy("model").orderBy(jcol.desc(), "s")
    return (
        rates.withColumn("youden_j", jcol)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "model",
            F.col("s").alias("best_threshold"),
            F.round("tpr", 9).alias("tpr"),
            F.round("fpr", 9).alias("fpr"),
            F.round("youden_j", 9).alias("youden_j"),
            F.round(F.col("tpr") / F.col("fpr"), 9).alias("lr_positive"),
            F.round((F.lit(1.0) - F.col("tpr")) / (F.lit(1.0) - F.col("fpr")), 9).alias(
                "lr_negative"
            ),
        )
        .orderBy("model")
    )


@query(
    "ml_linear_shap",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x1,
               CAST(l_discount AS DOUBLE) * 100.0 AS x2,
               CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y
        FROM lineitem
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x1 * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(round(x2 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(round(x1 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(round(x1 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(round(x2 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2y
        FROM pts
    ),
    fit AS (
        -- centered 2-feature OLS by Cramer's rule
        SELECT n,
               s1 / n AS m1, s2 / n AS m2, sy / n AS my,
               ((s1y - s1 * sy / n) * (s22 - s2 * s2 / n)
                - (s2y - s2 * sy / n) * (s12 - s1 * s2 / n))
               / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
                  - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS w1,
               ((s2y - s2 * sy / n) * (s11 - s1 * s1 / n)
                - (s1y - s1 * sy / n) * (s12 - s1 * s2 / n))
               / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
                  - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS w2
        FROM m
    ),
    shap AS (
        SELECT f.n, f.my, f.w1, f.w2,
               CAST(SUM(CAST(round(abs(f.w1 * (p.x1 - f.m1)), 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS sa1,
               CAST(SUM(CAST(round(abs(f.w2 * (p.x2 - f.m2)), 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS sa2
        FROM pts p CROSS JOIN fit f
        GROUP BY f.n, f.my, f.w1, f.w2
    )
    SELECT feature, round(weight, 9) AS weight,
           round(mean_abs_shap, 9) AS mean_abs_shap,
           round(mean_abs_shap / (sa1n + sa2n), 9) AS importance_share,
           round(my, 9) AS base_value
    FROM (
        SELECT 'quantity' AS feature, w1 AS weight, sa1 / n AS mean_abs_shap,
               sa1 / n AS sa1n, sa2 / n AS sa2n, my
        FROM shap
        UNION ALL
        SELECT 'discount_pct', w2, sa2 / n, sa1 / n, sa2 / n, my FROM shap
    )
    ORDER BY feature
    """,
    tags=("llm", "ml-eval", "explainability"),
)
def ml_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley values for a linear model (for linear f and
    independent features, φ_j(x) = w_j·(x_j − E[x_j]) is the
    closed-form SHAP decomposition — Lundberg & Lee 2017, the Linear
    SHAP case): fit price ~ quantity + discount by centered 2-feature
    OLS (Cramer), then report each feature's global importance as
    mean |φ| with its normalized share and the base value E[y].
    Explainability as a first-class distributed op — one corpus pass
    for the moments, one for the |φ| means, zero sampling (the
    kernel-SHAP estimator this replaces needs thousands of model
    evals per row).

    Exactness: nine sufficient statistics through round-6 decimal sums
    (2-dp inputs), the Cramer solve and |φ| terms as shared double
    expressions, |φ| sums through round-6 decimals."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x1"),
        (F.col("l_discount").cast("double") * 100.0).alias("x2"),
        (F.col("l_extendedprice").cast("double") / 1000.0).alias("y"),
    )

    def d6(c):
        return F.sum(F.round(c, 6).cast("decimal(38,6)")).cast("double")

    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    pts = pin(pts)  # moment pass + scoring pass (scan-leaf lint)
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        d6(x1).alias("s1"),
        d6(x2).alias("s2"),
        d6(y).alias("sy"),
        d6(x1 * x1).alias("s11"),
        d6(x2 * x2).alias("s22"),
        d6(x1 * x2).alias("s12"),
        d6(x1 * y).alias("s1y"),
        d6(x2 * y).alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    fit = m.select(
        "n",
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("sy") / n).alias("my"),
        ((c1y * c22 - c2y * c12) / det).alias("w1"),
        ((c2y * c11 - c1y * c12) / det).alias("w2"),
    )
    shap = pts.crossJoin(F.broadcast(fit)).agg(
        F.max("n").alias("n"),
        F.max("my").alias("my"),
        F.max("w1").alias("w1"),
        F.max("w2").alias("w2"),
        d6(F.abs(F.col("w1") * (x1 - F.col("m1")))).alias("sa1"),
        d6(F.abs(F.col("w2") * (x2 - F.col("m2")))).alias("sa2"),
    )
    base = shap.select(
        "n",
        "my",
        "w1",
        "w2",
        (F.col("sa1") / F.col("n")).alias("sa1n"),
        (F.col("sa2") / F.col("n")).alias("sa2n"),
    )
    rows = base.select(
        F.lit("quantity").alias("feature"),
        F.col("w1").alias("weight"),
        F.col("sa1n").alias("mean_abs_shap"),
        "sa1n",
        "sa2n",
        "my",
    ).unionByName(
        base.select(
            F.lit("discount_pct").alias("feature"),
            F.col("w2").alias("weight"),
            F.col("sa2n").alias("mean_abs_shap"),
            "sa1n",
            "sa2n",
            "my",
        )
    )
    return rows.select(
        "feature",
        F.round("weight", 9).alias("weight"),
        F.round("mean_abs_shap", 9).alias("mean_abs_shap"),
        F.round(F.col("mean_abs_shap") / (F.col("sa1n") + F.col("sa2n")), 9).alias(
            "importance_share"
        ),
        F.round("my", 9).alias("base_value"),
    ).orderBy("feature")


@query(
    "ml_eval_hosmer_lemeshow",
    oracle=f"""
    WITH {_SQL_SCORED},
    grid AS (
        SELECT model, s,
               CAST(count(*) AS DOUBLE) AS cnt,
               CAST(SUM(y) AS DOUBLE) AS pos,
               {_SQL_P} AS p
        FROM scored
        GROUP BY model, s
    ),
    cum AS (
        SELECT model, s, cnt, pos, p,
               SUM(cnt) OVER (PARTITION BY model ORDER BY s) AS cum_cnt,
               SUM(cnt) OVER (PARTITION BY model) AS n
        FROM grid
    ),
    binned AS (
        SELECT model,
               LEAST(CAST(floor(10.0 * (cum_cnt - cnt / 2.0) / n) AS BIGINT), 9) AS bin,
               SUM(pos) AS o1,
               SUM(cnt - pos) AS o0,
               CAST(SUM(CAST(cnt * p AS DECIMAL(38,12))) AS DOUBLE) AS e1,
               CAST(SUM(CAST(cnt * (1.0 - p) AS DECIMAL(38,12))) AS DOUBLE) AS e0
        FROM cum
        GROUP BY model, bin
    )
    SELECT model,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(CAST(SUM(CAST((o1 - e1) * (o1 - e1) / e1
                               + (o0 - e0) * (o0 - e0) / e0
                               AS DECIMAL(38,12))) AS DOUBLE), 9) AS hl_stat,
           CAST(SUM(CAST((o1 - e1) * (o1 - e1) / e1
                         + (o0 - e0) * (o0 - e0) / e0
                         AS DECIMAL(38,12))) AS DOUBLE)
               > CAST(15.50731305586545 AS DOUBLE) AS poorly_calibrated
    FROM binned
    GROUP BY model
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit: split the scored corpus into 10
    equal-count probability bins and compare observed vs expected
    positives per bin, HL = Σ[(O1−E1)²/E1 + (O0−E0)²/E0] ~ chi²(8); the
    classical clinical-model calibration test, complementing the
    ECE/MCE and Brier-decomposition operators with a formal verdict
    (critical value 15.50731305586545 as a shared parsed literal).

    Deciles are assigned on the GRID: the corpus collapses to the
    (model, score) table first (~40 rows/model), cumulative counts run
    on that tiny table, and each grid cell lands in the bin of its
    count midpoint — exact, deterministic, and free of per-row ntile
    nondeterminism under ties. 100 TB: one groupBy of the corpus, then
    grid-sized windows — the family's standard quantization shape."""
    grid = (
        _scored(spark, sf_dir)
        .groupBy("model", "s")
        .agg(
            F.count(F.lit(1)).cast("double").alias("cnt"),
            F.sum("y").cast("double").alias("pos"),
        )
        .withColumn("z", F.col("s").cast("double") / float(SCORE_GRID))
        .withColumn("p", 0.5 + 0.5 * F.col("z") / (1.0 + F.abs(F.col("z"))))
    )
    w = Window.partitionBy("model").orderBy("s")
    wall = Window.partitionBy("model")
    cum = grid.select(
        "model",
        "cnt",
        "pos",
        "p",
        F.sum("cnt").over(w).alias("cum_cnt"),
        F.sum("cnt").over(wall).alias("n"),
    )
    binned = (
        cum.withColumn(
            "bin",
            F.least(
                F.floor(10.0 * (F.col("cum_cnt") - F.col("cnt") / 2.0) / F.col("n")).cast(
                    "bigint"
                ),
                F.lit(9).cast("bigint"),
            ),
        )
        .groupBy("model", "bin")
        .agg(
            F.sum("pos").alias("o1"),
            F.sum(F.col("cnt") - F.col("pos")).alias("o0"),
            F.sum((F.col("cnt") * F.col("p")).cast(DEC18)).cast("double").alias("e1"),
            F.sum((F.col("cnt") * (1.0 - F.col("p"))).cast(DEC18)).cast("double").alias("e0"),
        )
    )
    term = (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("e1") + (
        F.col("o0") - F.col("e0")
    ) * (F.col("o0") - F.col("e0")) / F.col("e0")
    return (
        binned.groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.round(F.sum(term.cast(DEC18)).cast("double"), 9).alias("hl_stat"),
            (F.sum(term.cast(DEC18)).cast("double") > F.lit(15.50731305586545)).alias(
                "poorly_calibrated"
            ),
        )
        .orderBy("model")
    )


AUC_SUBSAMPLE_B = 16  # half-sampling replicates


@query(
    "ml_eval_auc_subsample_ci",
    oracle=f"""
    WITH scored_id AS (
        SELECT m.model, e.vec_id,
               CAST(FLOOR((CAST(CASE WHEN m.model = 'm1' THEN embedding[1]
                                     ELSE embedding[2] END AS DOUBLE)
                           + 0.25 * (label % 2)) * {SCORE_GRID}) AS BIGINT) AS s,
               (label % 2) AS y
        FROM embeddings e
        CROSS JOIN (SELECT 'm1' AS model UNION ALL SELECT 'm2') m
    ),
    reps AS (SELECT UNNEST(generate_series(0, {AUC_SUBSAMPLE_B - 1})) AS rep),
    sub AS (
        SELECT s0.model, r.rep, s0.s, s0.y
        FROM scored_id s0 CROSS JOIN reps r
        WHERE CAST(concat('0x', substring(
                  md5(concat(CAST(s0.vec_id AS VARCHAR), '-', CAST(r.rep AS VARCHAR))),
                  1, 8)) AS BIGINT) % 2 = 0
    ),
    g AS (
        SELECT model, rep, s,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM sub GROUP BY model, rep, s
    ),
    c AS (
        SELECT model, rep, pos, neg,
               CAST(COALESCE(SUM(neg) OVER (PARTITION BY model, rep ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS cumneg_lt,
               CAST(SUM(pos) OVER (PARTITION BY model, rep) AS BIGINT) AS p_tot,
               CAST(SUM(neg) OVER (PARTITION BY model, rep) AS BIGINT) AS n_tot
        FROM g
    ),
    aucs AS (
        SELECT model, rep,
               round(CAST(SUM(pos * (2 * cumneg_lt + neg)) AS DOUBLE)
                     / (2.0 * MAX(p_tot) * MAX(n_tot)), 9) AS auc
        FROM c GROUP BY model, rep
    )
    SELECT model,
           CAST(count(*) AS BIGINT) AS n_reps,
           round(CAST(SUM(CAST(auc AS DECIMAL(38,9))) AS DOUBLE) / count(*), 9)
               AS auc_mean,
           round(sqrt((CAST(SUM(CAST(round(auc * auc, 12) AS DECIMAL(38,12))) AS DOUBLE)
                       - CAST(SUM(CAST(auc AS DECIMAL(38,9))) AS DOUBLE)
                         * CAST(SUM(CAST(auc AS DECIMAL(38,9))) AS DOUBLE) / count(*))
                      / (count(*) - 1)), 9) AS auc_sd,
           MIN(auc) AS ci_lo,
           MAX(auc) AS ci_hi
    FROM aucs
    GROUP BY model
    ORDER BY model
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_auc_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsampling (m-out-of-n bootstrap, Politis-Romano-Wolf lineage)
    confidence interval for AUC: B=16 deterministic half-samples
    (inclusion = md5(vec_id, rep) % 2, the cross-engine hash), exact
    integer concordant-pair AUC per replicate, then the replicate
    mean / SD / range as the stability report. The eval-suite answer
    to "is this AUC difference real or sampling noise" — DeLong's
    analytic twin (`ml_eval_delong_auc_ci`) already ships; this is the
    resampling cross-check that works for ANY metric.

    100 TB: the corpus explodes ×B but immediately collapses to the
    (model, rep, score-grid) table — B×~41 rows per model — before any
    window; per-replicate AUC is integer counting on that grid, so the
    whole CI costs one wide scan + one grid aggregate. Replicate AUCs
    are rounded at 9 dp and decimal-summed, keeping both engines
    bit-identical through the moment algebra."""
    e = load_table(spark, sf_dir, "embeddings")
    y = (F.col("label") % 2).alias("y")
    scored = None
    for dim, name in ((1, "m1"), (2, "m2")):
        raw = F.element_at("embedding", dim).cast("double") + 0.25 * (F.col("label") % 2)
        part = e.select(
            F.lit(name).alias("model"),
            F.col("vec_id"),
            F.floor(raw * SCORE_GRID).cast("bigint").alias("s"),
            y,
        )
        scored = part if scored is None else scored.unionByName(part)
    reps = spark.range(AUC_SUBSAMPLE_B).select(F.col("id").alias("rep"))
    sub = scored.crossJoin(F.broadcast(reps)).where(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.col("vec_id").cast("string"), F.col("rep").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    )
    g = sub.groupBy("model", "rep", "s").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg"),
    )
    wlt = (
        Window.partitionBy("model", "rep")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("model", "rep")
    c = g.select(
        "model",
        "rep",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(wlt), F.lit(0)).cast("bigint").alias("cumneg_lt"),
        F.sum("pos").over(wall).cast("bigint").alias("p_tot"),
        F.sum("neg").over(wall).cast("bigint").alias("n_tot"),
    )
    aucs = c.groupBy("model", "rep").agg(
        F.round(
            F.sum(F.col("pos") * (2 * F.col("cumneg_lt") + F.col("neg"))).cast("double")
            / (2.0 * F.max("p_tot") * F.max("n_tot")),
            9,
        ).alias("auc")
    )
    a = F.col("auc")
    s1 = F.sum(a.cast("decimal(38,9)")).cast("double")
    s2 = F.sum(F.round(a * a, 12).cast(DEC18)).cast("double")
    cnt = F.count(F.lit(1))
    return (
        aucs.groupBy("model")
        .agg(
            cnt.cast("bigint").alias("n_reps"),
            F.round(s1 / cnt, 9).alias("auc_mean"),
            F.round(F.sqrt((s2 - s1 * s1 / cnt) / (cnt - 1)), 9).alias("auc_sd"),
            F.min(a).alias("ci_lo"),
            F.max(a).alias("ci_hi"),
        )
        .orderBy("model")
    )


@query(
    "ml_eval_krippendorff_alpha",
    oracle="""
    WITH rated AS (
        SELECT doc_id, lang AS r1,
               CASE WHEN CAST(concat('0x', substring(
                        md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
                    THEN 'zz' ELSE lang END AS r2
        FROM documents
    ),
    coinc AS (
        SELECT r1 AS c, r2 AS k, CAST(count(*) AS BIGINT) AS o FROM rated GROUP BY 1, 2
        UNION ALL
        SELECT r2 AS c, r1 AS k, CAST(count(*) AS BIGINT) AS o FROM rated GROUP BY 1, 2
    ),
    o_ck AS (SELECT c, k, SUM(o) AS o FROM coinc GROUP BY c, k),
    margins AS (SELECT c, SUM(o) AS n_c FROM o_ck GROUP BY c),
    totals AS (
        SELECT CAST(SUM(n_c) AS DOUBLE) AS n,
               CAST(SUM(n_c * n_c) AS DOUBLE) AS sum_nc2
        FROM margins
    ),
    d AS (
        SELECT CAST(SUM(CASE WHEN c <> k THEN o ELSE 0 END) AS DOUBLE) AS disagree
        FROM o_ck
    )
    SELECT CAST(t.n AS BIGINT) AS n_pairable_values,
           round(d.disagree / t.n, 9) AS d_observed,
           round((t.n * t.n - t.sum_nc2) / (t.n * (t.n - 1.0)), 9) AS d_expected,
           round(1.0 - (d.disagree / t.n)
                 / ((t.n * t.n - t.sum_nc2) / (t.n * (t.n - 1.0))), 9) AS alpha
    FROM d CROSS JOIN totals t
    """,
    tags=("llm", "ml-eval", "agreement"),
)
def ml_eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal metric, 2 raters, no missing
    values): alpha = 1 − D_o/D_e over the COINCIDENCE matrix (each
    unit's rater pair counted in both orders), D_o = Σ_{c≠k} o_ck / n,
    D_e = (n² − Σ_c n_c²) / (n(n−1)). Completes the agreement suite
    (Cohen's kappa, ARI, NMI): alpha is the chance-corrected statistic
    that generalizes to many raters, missing data, and ordinal
    metrics, and is the labeling-QA standard for annotation pipelines.
    Rater 1 is the corpus lang label; rater 2 is the same label with a
    deterministic 10% md5 corruption — a known-disagreement fixture.

    100 TB: one groupBy collapses the corpus to the (c, k) label-pair
    table (bounded by label-alphabet², ~36 cells); everything after is
    integer algebra on that tiny table. Exact integer coincidences →
    identical IEEE ratios."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("r1"),
        F.when(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % 10
            == 0,
            F.lit("zz"),
        )
        .otherwise(F.col("lang"))
        .alias("r2"),
    )
    pair_counts = pin(d.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ))  # both coincidence legs (scan-leaf lint)
    coinc = pair_counts.select(F.col("r1").alias("c"), F.col("r2").alias("k"), "o").unionByName(
        pair_counts.select(F.col("r2").alias("c"), F.col("r1").alias("k"), "o")
    )
    o_ck = coinc.groupBy("c", "k").agg(F.sum("o").alias("o"))
    margins = o_ck.groupBy("c").agg(F.sum("o").alias("n_c"))
    totals = margins.agg(
        F.sum("n_c").cast("double").alias("n"),
        F.sum(F.col("n_c") * F.col("n_c")).cast("double").alias("sum_nc2"),
    )
    dis = o_ck.agg(
        F.sum(F.when(F.col("c") != F.col("k"), F.col("o")).otherwise(0))
        .cast("double")
        .alias("disagree")
    )
    n, sum_nc2, disagree = F.col("n"), F.col("sum_nc2"), F.col("disagree")
    d_o = disagree / n
    d_e = (n * n - sum_nc2) / (n * (n - 1.0))
    return dis.crossJoin(F.broadcast(totals)).select(
        n.cast("bigint").alias("n_pairable_values"),
        F.round(d_o, 9).alias("d_observed"),
        F.round(d_e, 9).alias("d_expected"),
        F.round(1.0 - d_o / d_e, 9).alias("alpha"),
    )


PLATT_LR = 0.5
PLATT_EPOCHS = 3


@query(
    "ml_eval_platt_scaling",
    oracle=f"""
    WITH {_SQL_SCORED},
    grid AS (
        SELECT model, CAST(s AS DOUBLE) / {float(SCORE_GRID)} AS z,
               CAST(SUM(y) AS DOUBLE) AS pos,
               CAST(COUNT(*) - SUM(y) AS DOUBLE) AS neg
        FROM scored GROUP BY model, s
    ),
    n AS (SELECT model, SUM(pos) + SUM(neg) AS n FROM grid GROUP BY model),
    e0 AS (SELECT model, CAST(1.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b FROM n),
    {", ".join(f'''
    g{i} AS (
        SELECT g.model,
               CAST(SUM(CAST(round((g.pos * ((0.5 + 0.5 * (e.a * g.z + e.b)
                        / (1.0 + ABS(e.a * g.z + e.b))) - 1.0)
                    + g.neg * (0.5 + 0.5 * (e.a * g.z + e.b)
                        / (1.0 + ABS(e.a * g.z + e.b)))) * g.z, 12)
                    AS DECIMAL(38,12))) AS DOUBLE) AS ga,
               CAST(SUM(CAST(round(g.pos * ((0.5 + 0.5 * (e.a * g.z + e.b)
                        / (1.0 + ABS(e.a * g.z + e.b))) - 1.0)
                    + g.neg * (0.5 + 0.5 * (e.a * g.z + e.b)
                        / (1.0 + ABS(e.a * g.z + e.b))), 12)
                    AS DECIMAL(38,12))) AS DOUBLE) AS gb
        FROM grid g JOIN e{i - 1} e USING (model)
        GROUP BY g.model
    ),
    e{i} AS (
        SELECT e.model,
               e.a - {PLATT_LR!r} * g.ga / n.n AS a,
               e.b - {PLATT_LR!r} * g.gb / n.n AS b
        FROM e{i - 1} e JOIN g{i} g USING (model) JOIN n USING (model)
    )''' for i in range(1, PLATT_EPOCHS + 1))}
    ,
    nll AS (
        SELECT g.model,
               CAST(SUM(CAST(round(
                   -(g.pos * ln(GREATEST(0.5 + 0.5 * (e.a * g.z + e.b)
                                / (1.0 + ABS(e.a * g.z + e.b)), 1e-12))
                     + g.neg * ln(GREATEST(1.0 - (0.5 + 0.5 * (e.a * g.z + e.b)
                                / (1.0 + ABS(e.a * g.z + e.b))), 1e-12))), 12)
                   AS DECIMAL(38,12))) AS DOUBLE) AS total_nll
        FROM grid g JOIN e{PLATT_EPOCHS} e USING (model)
        GROUP BY g.model
    )
    SELECT e.model,
           round(e.a, 9) AS a_hat,
           round(e.b, 9) AS b_hat,
           round(nll.total_nll / n.n, 9) AS mean_nll
    FROM e{PLATT_EPOCHS} e JOIN nll USING (model) JOIN n USING (model)
    ORDER BY e.model
    """,
    tags=("llm", "ml-eval", "calibration"),
)
def ml_eval_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (Platt 1999): fit p = σ(A·z + B) to the raw model
    scores by three unrolled gradient epochs — the PARAMETRIC
    calibrator next to the isotonic (PAV) one already shipped; Platt
    wins on small/smooth calibration sets, isotonic on large/monotone-
    violating ones. House trainer discipline: the rational squash
    0.5 + 0.5u/(1+|u|) replaces the logistic sigmoid (no
    transcendentals in the gradient), gradients are computed on the
    (model, score) GRID (~41 cells/model, weighted by pos/neg counts),
    and each epoch's terms are rounded at 12 dp and decimal-summed so
    both engines walk the identical parameter trajectory.

    100 TB: ONE corpus pass builds the weighted grid; every epoch is a
    grid-sized aggregate joined to 1-row-per-model state — the same
    shape as ml_logreg_gd, where the gradient cost is bounded by the
    score grid, not the corpus."""
    grid = pin(
        _scored(spark, sf_dir)
        .groupBy("model", "s")
        .agg(
            F.sum("y").cast("double").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("double").alias("neg"),
        )
        .withColumn("z", F.col("s").cast("double") / float(SCORE_GRID))
        .drop("s"),
        eager=True,
    )  # grid reused by every epoch; truncate lineage
    n = grid.groupBy("model").agg((F.sum("pos") + F.sum("neg")).alias("n"))
    state = n.select("model", F.lit(1.0).alias("a"), F.lit(0.0).alias("b"))

    def squash(u):
        return 0.5 + 0.5 * u / (1.0 + F.abs(u))

    for _ in range(PLATT_EPOCHS):
        joined = grid.join(state, "model")
        p = squash(F.col("a") * F.col("z") + F.col("b"))
        resid = F.col("pos") * (p - 1.0) + F.col("neg") * p
        grads = joined.groupBy("model").agg(
            F.sum(F.round(resid * F.col("z"), 12).cast(DEC18)).cast("double").alias("ga"),
            F.sum(F.round(resid, 12).cast(DEC18)).cast("double").alias("gb"),
        )
        state = (
            state.join(grads, "model")
            .join(n, "model")
            .select(
                "model",
                (F.col("a") - PLATT_LR * F.col("ga") / F.col("n")).alias("a"),
                (F.col("b") - PLATT_LR * F.col("gb") / F.col("n")).alias("b"),
            )
        )
    fin = grid.join(state, "model")
    p = squash(F.col("a") * F.col("z") + F.col("b"))
    nll_term = -(
        F.col("pos") * F.log(F.greatest(p, F.lit(1e-12)))
        + F.col("neg") * F.log(F.greatest(1.0 - p, F.lit(1e-12)))
    )
    nll = fin.groupBy("model").agg(
        F.sum(F.round(nll_term, 12).cast(DEC18)).cast("double").alias("total_nll")
    )
    return (
        state.join(nll, "model")
        .join(n, "model")
        .select(
            "model",
            F.round(F.col("a"), 9).alias("a_hat"),
            F.round(F.col("b"), 9).alias("b_hat"),
            F.round(F.col("total_nll") / F.col("n"), 9).alias("mean_nll"),
        )
        .orderBy("model")
    )


ROUGE_N = 2  # bigram ROUGE


@query(
    "ml_eval_rouge_n",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    pairs AS (
        SELECT c.doc_id AS pair_id, c.t AS ct, r.t AS rt
        FROM tok c JOIN tok r ON r.doc_id = c.doc_id - 1
        WHERE c.doc_id % 2 = 1
    ),
    cg AS (
        SELECT pair_id, g, count(*) AS nc
        FROM pairs, unnest(list_transform(range(1, len(ct) - {ROUGE_N} + 2),
            i -> array_to_string(list_slice(ct, i, i + {ROUGE_N} - 1), ' ')))
            AS u(g)
        GROUP BY pair_id, g
    ),
    rg AS (
        SELECT pair_id, g, count(*) AS nr
        FROM pairs, unnest(list_transform(range(1, len(rt) - {ROUGE_N} + 2),
            i -> array_to_string(list_slice(rt, i, i + {ROUGE_N} - 1), ' ')))
            AS u(g)
        GROUP BY pair_id, g
    ),
    ov AS (
        SELECT cg.pair_id, CAST(sum(least(cg.nc, rg.nr)) AS BIGINT) AS matched
        FROM cg JOIN rg USING (pair_id, g)
        GROUP BY cg.pair_id
    ),
    sizes AS (
        SELECT pair_id,
               CAST(greatest(len(ct) - {ROUGE_N} + 1, 0) AS BIGINT) AS n_c,
               CAST(greatest(len(rt) - {ROUGE_N} + 1, 0) AS BIGINT) AS n_r
        FROM pairs
    )
    SELECT s.pair_id,
           COALESCE(o.matched, 0) AS matched,
           round(COALESCE(o.matched, 0) / greatest(s.n_c, 1), 9) AS rouge_p,
           round(COALESCE(o.matched, 0) / greatest(s.n_r, 1), 9) AS rouge_r,
           round(CASE WHEN COALESCE(o.matched, 0) = 0 THEN 0.0
                 ELSE 2.0 * (COALESCE(o.matched, 0) / greatest(s.n_c, 1))
                          * (COALESCE(o.matched, 0) / greatest(s.n_r, 1))
                      / ((COALESCE(o.matched, 0) / greatest(s.n_c, 1))
                         + (COALESCE(o.matched, 0) / greatest(s.n_r, 1)))
                 END, 9) AS rouge_f1
    FROM sizes s LEFT JOIN ov o USING (pair_id)
    ORDER BY s.pair_id
    """,
    tags=("llm", "ml-eval", "text"),
)
def ml_eval_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-{ROUGE_N} (Lin 2004) between candidate/reference pairs —
    the n-gram-overlap recall metric every summarization eval reports
    (complement of the registry's BLEU, which is precision-clipped the
    other way). Pairing fixture: each odd doc is the "candidate", its
    even predecessor the "reference". Matched = Σ_g min(count_cand(g),
    count_ref(g)) — the clipped multiset intersection; P, R, F1 follow.

    100 TB posture: grams explode linearly (one row per position),
    per-pair gram counts reduce map-side, and the overlap is ONE
    equi-join on (pair, gram) — batch-of-pairs × grams, never
    corpus × corpus. Per-row double arithmetic only (IEEE-identical
    cross-engine); counts are exact longs."""
    d = pin(load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_remove(F.split("text", r"\s+"), "").alias("t")
    ))  # consumed by both join sides; pairs feed cg/rg/sizes
    c = d.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("pair_id"), F.col("t").alias("ct")
    )
    r = d.select((F.col("doc_id") + 1).alias("pair_id"), F.col("t").alias("rt"))
    pairs = pin(c.join(r, "pair_id"))

    def grams(col: str):
        # Spark's sequence(1, 0) is DESCENDING [1, 0] — a greatest(..., 0)
        # upper bound does NOT empty it, it sends i=0 into slice() which
        # throws INVALID_PARAMETER_VALUE.START on any doc shorter than
        # ROUGE_N tokens. Guard the whole transform instead: short docs
        # emit no grams (matches the oracle, which ranges over
        # len - N + 1 <= 0 and yields nothing).
        return F.explode(
            F.expr(
                f"IF(size({col}) < {ROUGE_N}, array(), "
                f"transform(sequence(1, size({col}) - {ROUGE_N} + 1), "
                f"i -> array_join(slice({col}, i, {ROUGE_N}), ' ')))"
            )
        )

    cg = (
        pairs.select("pair_id", grams("ct").alias("g"))
        .groupBy("pair_id", "g")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    rg = (
        pairs.select("pair_id", grams("rt").alias("g"))
        .groupBy("pair_id", "g")
        .agg(F.count(F.lit(1)).alias("nr"))
    )
    ov = (
        cg.join(rg, ["pair_id", "g"])
        .groupBy("pair_id")
        .agg(F.sum(F.least("nc", "nr")).cast("bigint").alias("matched"))
    )
    sizes = pairs.select(
        "pair_id",
        F.greatest(F.size("ct") - ROUGE_N + 1, F.lit(0)).cast("bigint").alias("n_c"),
        F.greatest(F.size("rt") - ROUGE_N + 1, F.lit(0)).cast("bigint").alias("n_r"),
    )
    m = F.coalesce("matched", F.lit(0)).cast("bigint")
    p = m / F.greatest("n_c", F.lit(1))
    rr = m / F.greatest("n_r", F.lit(1))
    return (
        sizes.join(ov, "pair_id", "left")
        .select(
            "pair_id",
            m.alias("matched"),
            F.round(p, 9).alias("rouge_p"),
            F.round(rr, 9).alias("rouge_r"),
            F.round(
                F.when(m == 0, F.lit(0.0)).otherwise(2.0 * p * rr / (p + rr)), 9
            ).alias("rouge_f1"),
        )
        .orderBy("pair_id")
    )


CV_FOLDS = 5
_CV_A, _CV_B, _CV_P = 1_103_515_245, 12_345, 2_147_483_647


@query(
    "ml_eval_kfold_cv",
    oracle=f"""
    WITH li AS (
        SELECT CAST((({_CV_A} * CAST(l_orderkey AS BIGINT) + {_CV_B})
                     % {_CV_P}) % {CV_FOLDS} AS INT) AS fold,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem
    ),
    fs AS (
        SELECT fold,
               count(*) AS n,
               SUM(CAST(x AS DECIMAL(28,6))) AS dsx,
               SUM(CAST(y AS DECIMAL(28,6))) AS dsy,
               SUM(CAST(x * x AS DECIMAL(28,6))) AS dsxx,
               SUM(CAST(y * y AS DECIMAL(38,6))) AS dsyy,
               SUM(CAST(x * y AS DECIMAL(38,6))) AS dsxy
        FROM li GROUP BY fold
    ),
    g AS (
        SELECT SUM(n) AS n_t, SUM(dsx) AS dsx_t, SUM(dsy) AS dsy_t,
               SUM(dsxx) AS dsxx_t, SUM(dsyy) AS dsyy_t, SUM(dsxy) AS dsxy_t
        FROM fs
    ),
    m AS (
        SELECT fs.fold, fs.n AS n_f,
               CAST(fs.dsx AS DOUBLE) AS sx_f, CAST(fs.dsy AS DOUBLE) AS sy_f,
               CAST(fs.dsxx AS DOUBLE) AS sxx_f, CAST(fs.dsyy AS DOUBLE) AS syy_f,
               CAST(fs.dsxy AS DOUBLE) AS sxy_f,
               g.n_t - fs.n AS n_o,
               CAST(g.dsx_t - fs.dsx AS DOUBLE) AS sx_o,
               CAST(g.dsy_t - fs.dsy AS DOUBLE) AS sy_o,
               CAST(g.dsxx_t - fs.dsxx AS DOUBLE) AS sxx_o,
               CAST(g.dsxy_t - fs.dsxy AS DOUBLE) AS sxy_o
        FROM fs CROSS JOIN g
    ),
    fit AS (
        SELECT fold, n_f, sx_f, sy_f, sxx_f, syy_f, sxy_f,
               (n_o * sxy_o - sx_o * sy_o) / (n_o * sxx_o - sx_o * sx_o) AS b,
               (sy_o - (n_o * sxy_o - sx_o * sy_o)
                       / (n_o * sxx_o - sx_o * sx_o) * sx_o) / n_o AS a
        FROM m
    )
    SELECT fold,
           CAST(n_f AS BIGINT) AS n_test,
           round(b, 9) AS slope,
           round(a, 9) AS intercept,
           round(sqrt((syy_f + n_f * a * a + b * b * sxx_f - 2.0 * a * sy_f
                       - 2.0 * b * sxy_f + 2.0 * a * b * sx_f) / n_f), 6)
               AS rmse
    FROM fit
    ORDER BY fold
    """,
    tags=("llm", "ml-eval", "regression"),
)
def ml_eval_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of an OLS fit (y = a + b·x over
    lineitem's quantity→extendedprice) — the eval harness every model
    selection loop runs, expressed the only way it survives 100 TB:
    ONE corpus scan builds per-fold sufficient statistics
    (n, Σx, Σy, Σx², Σy², Σxy as exact decimals), and every fold's
    leave-fold-out training set is the GLOBAL sums minus that fold's —
    exact decimal subtraction, no second pass, no per-fold re-scan
    (naive CV re-reads the corpus K times). Held-out RMSE expands
    Σ(y−a−bx)² from the same six statistics.

    Folds assign by LCG over l_orderkey — GROUP k-fold at the order
    grain, so line items of one order never straddle train/test (the
    leakage rule split_leakage_safe pins for documents). Doubles are
    cast from the exact decimals and the closed forms evaluate the
    identical expression tree in both engines (the
    agg_regression_family discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    fold = (
        (
            (F.lit(_CV_A).cast("bigint") * F.col("l_orderkey").cast("bigint") + _CV_B)
            % _CV_P
        )
        % CV_FOLDS
    ).cast("int")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    fs = pin(li.select(
        fold.alias("fold"), x.alias("x"), y.alias("y")
    ).groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).alias("dsx"),
        F.sum(F.col("y").cast("decimal(28,6)")).alias("dsy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).alias("dsxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")).alias("dsyy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)")).alias("dsxy"),
    ))  # K-row table consumed by the global rollup AND the fold join
    g = fs.agg(
        F.sum("n").alias("n_t"),
        F.sum("dsx").alias("dsx_t"),
        F.sum("dsy").alias("dsy_t"),
        F.sum("dsxx").alias("dsxx_t"),
        F.sum("dsyy").alias("dsyy_t"),
        F.sum("dsxy").alias("dsxy_t"),
    )
    m = fs.crossJoin(F.broadcast(g)).select(
        "fold",
        F.col("n").alias("n_f"),
        F.col("dsx").cast("double").alias("sx_f"),
        F.col("dsy").cast("double").alias("sy_f"),
        F.col("dsxx").cast("double").alias("sxx_f"),
        F.col("dsyy").cast("double").alias("syy_f"),
        F.col("dsxy").cast("double").alias("sxy_f"),
        (F.col("n_t") - F.col("n")).alias("n_o"),
        (F.col("dsx_t") - F.col("dsx")).cast("double").alias("sx_o"),
        (F.col("dsy_t") - F.col("dsy")).cast("double").alias("sy_o"),
        (F.col("dsxx_t") - F.col("dsxx")).cast("double").alias("sxx_o"),
        (F.col("dsxy_t") - F.col("dsxy")).cast("double").alias("sxy_o"),
    )
    n_o, sx_o, sy_o = F.col("n_o"), F.col("sx_o"), F.col("sy_o")
    sxx_o, sxy_o = F.col("sxx_o"), F.col("sxy_o")
    b = (n_o * sxy_o - sx_o * sy_o) / (n_o * sxx_o - sx_o * sx_o)
    fit = m.select(
        "fold", "n_f", "sx_f", "sy_f", "sxx_f", "syy_f", "sxy_f",
        b.alias("b"),
        ((sy_o - b * sx_o) / n_o).alias("a"),
    )
    n_f, a_c, b_c = F.col("n_f"), F.col("a"), F.col("b")
    sse = (
        F.col("syy_f")
        + n_f * a_c * a_c
        + b_c * b_c * F.col("sxx_f")
        - 2.0 * a_c * F.col("sy_f")
        - 2.0 * b_c * F.col("sxy_f")
        + 2.0 * a_c * b_c * F.col("sx_f")
    )
    return fit.select(
        "fold",
        F.col("n_f").cast("bigint").alias("n_test"),
        F.round(b_c, 9).alias("slope"),
        F.round(a_c, 9).alias("intercept"),
        F.round(F.sqrt(sse / n_f), 6).alias("rmse"),
    ).orderBy("fold")


PASS_K_GRID = (1, 5, 10)
PASS_PROBLEMS = 997  # orderkey-hash problem buckets


@query(
    "ml_eval_pass_at_k",
    oracle=f"""
    WITH trials AS (
        SELECT CAST(o_orderkey % {PASS_PROBLEMS} AS BIGINT) AS problem_id,
               CAST(count(*) AS BIGINT) AS n_trials,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_success
        FROM orders GROUP BY 1
    ),
    grid AS (
        SELECT * FROM (VALUES {", ".join(f"({k})" for k in PASS_K_GRID)})
        AS g(k)
    )
    SELECT t.problem_id, t.n_trials, t.n_success, g.k,
           round(CASE WHEN t.n_trials - t.n_success < g.k THEN 1.0
                 ELSE 1.0 - list_reduce(
                     list_transform(range(0, g.k),
                         j -> CAST(t.n_trials - t.n_success - j AS DOUBLE)
                              / (t.n_trials - j)),
                     (a, b) -> a * b) END, 9) AS pass_at_k
    FROM trials t CROSS JOIN grid g
    WHERE t.n_trials >= g.k
    ORDER BY t.problem_id, g.k
    """,
    tags=("llm", "ml-eval"),
)
def ml_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, HumanEval §2.1) — THE eval
    statistic for sampled-generation benchmarks: given n sampled trials
    per problem with c successes, the expectation of "at least one of k
    random samples passes" is 1 − C(n−c, k)/C(n, k), computed in the
    numerically stable falling-factorial product form Π_j (n−c−j)/(n−j)
    (never materializing binomials). Trials fixture: orderkey-hash
    problem buckets over ``orders``, success = status 'F'; k grid
    {PASS_K_GRID}.

    100 TB shape: one map-side-combinable per-problem aggregate, a
    broadcast k-grid crossJoin, and a per-row fold over k <= 10 factors
    — left-to-right double products are IEEE-identical cross-engine
    (both engines fold the same factor list in the same order)."""
    o = load_table(spark, sf_dir, "orders")
    trials = o.groupBy(
        (F.col("o_orderkey") % PASS_PROBLEMS).cast("bigint").alias("problem_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trials"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_success"),
    )
    grid = spark.createDataFrame([(k,) for k in PASS_K_GRID], "k int")
    n, c, k = F.col("n_trials"), F.col("n_success"), F.col("k")
    prod = F.aggregate(
        F.sequence(F.lit(0), k - 1),
        F.lit(1.0),
        lambda acc, j: acc * (n - c - j).cast("double") / (n - j),
    )
    return (
        trials.crossJoin(F.broadcast(grid))
        .filter(n >= k)
        .select(
            "problem_id",
            "n_trials",
            "n_success",
            "k",
            F.round(
                F.when(n - c < k, F.lit(1.0)).otherwise(F.lit(1.0) - prod), 9
            ).alias("pass_at_k"),
        )
        .orderBy("problem_id", "k")
    )
