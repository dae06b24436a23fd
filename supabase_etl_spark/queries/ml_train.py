"""Distributed model TRAINING operators (SURVEY.md §2.2 "LLM ops" —
the classifier-training half of a curation pipeline: quality filters
and domain routers are trained ON the corpus with the same engine that
scores it; recommendation co-occurrence models power dataset mixing).

Three classic "big n, tiny p" trainer shapes, each expressed as pure
DataFrame aggregations so 100 TB of rows reduce to map-side-combined
partial sums:

* multinomial Naive Bayes — one token-level groupBy builds the model
  (a vocab-sized table), one broadcast join + doc-level groupBy scores
  the corpus. The model table is the only state; no iteration.
* logistic regression by full-batch gradient descent — the per-epoch
  state is a 1-row coefficient frame crossJoin(broadcast)-ed into the
  next epoch's scan; three unrolled epochs form a single DAG with no
  driver collect. A rational squash p = 0.5 + 0.5·z/(1+|z|) replaces
  sigmoid so the oracle needs no transcendentals.
* item-item collaborative filtering — basket-keyed self-join builds
  co-occurrence counts (cost Σ|basket|², never corpus²), cosine from
  IEEE-exact sqrt of integer products, top-k neighbors per item by
  quantize-then-rank.

Exactness discipline (SURVEY.md §4.3): per-row doubles are computed by
identical IEEE expressions in both engines, rounded at 1e-12, and
summed through decimal(38,12) so Spark's parallel order and DuckDB's
sequential order agree bitwise; ln() terms follow the NLL pattern
(round-12 before the decimal sum); sqrt is IEEE-correctly-rounded and
needs no canonicalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query

DEC = "decimal(38,12)"

# ---------------------------------------------------------------------------
# deterministic ln of an exact integer (the levene discipline applied to
# transcendentals, VERDICT r13 task 2)
# ---------------------------------------------------------------------------
#
# round(LN(x), 12) of a libm ln is NOT cross-engine stable: Spark's
# Math.log and DuckDB's std::log may disagree in the last ulp, and at
# sf0.1 enough vocab terms sample the 1e-12 rounding-tie band that
# ml_nb_train_score's avg_margin diverged in the 10th decimal (latent
# r13 finding). The fix is the levene pattern extended to ln: compute
# ln(x) for exact-BIGINT x with IEEE +,-,*,/ ONLY — every one of those
# is correctly rounded and therefore bitwise identical across engines —
# so the SAME generated expression text evaluates to the SAME double in
# Spark and DuckDB and round-12 ties cannot split.
#
#   x = 2^k * m,  m in [1,2):  k via a 63-branch exact-integer CASE,
#   m = x / 2^k (power-of-two double literals are exact),
#   ln m = 2*atanh(z), z = (m-1)/(m+1) in [0,1/3]:
#   17-term odd series in z^2 (z^2 <= 1/9 => truncation < 1e-16),
#   ln x = k*LN2 + 2*z*P(z^2).
#
# Accuracy vs true ln is ~1e-15 relative — the committed values remain
# honest log-likelihood ratios at 12 decimals — but the property the
# gate needs is only that both engines evaluate the identical sequence
# of deterministic IEEE ops. Expressions are generated ONCE and pasted
# into both the oracle SQL text and the Spark selectExpr, so the
# operation order is identical by construction (lateral column aliases
# keep the text linear; both engines resolve them).

_LN2 = "CAST('0.6931471805599453' AS DOUBLE)"  # repr(math.log(2)), CR-parsed


def _det_ln_exprs(x: str, suf: str) -> list[str]:
    """Select-expressions computing ``ln_<suf>`` = ln(<x>) for an exact
    positive BIGINT expression ``x``, using only IEEE-deterministic
    arithmetic (see module comment). Returns lateral-alias steps."""
    k_branches = " ".join(
        f"WHEN {x} >= {1 << k} THEN {k}" for k in range(62, 0, -1)
    )
    p_branches = " ".join(
        f"WHEN {x} >= {1 << k} THEN CAST('{float(1 << k)!r}' AS DOUBLE)"
        for k in range(62, 0, -1)
    )
    # P(z2) by Horner, c_i = 1/(2i+1) as correctly-rounded string literals
    horner = f"CAST('{1.0 / 33.0!r}' AS DOUBLE)"
    for i in range(15, -1, -1):
        horner = f"({horner} * z2_{suf} + CAST('{1.0 / (2 * i + 1)!r}' AS DOUBLE))"
    return [
        f"CASE {k_branches} ELSE 0 END AS k_{suf}",
        f"CAST({x} AS DOUBLE) / (CASE {p_branches} ELSE CAST('1.0' AS DOUBLE) END) AS m_{suf}",
        f"(m_{suf} - CAST(1 AS DOUBLE)) / (m_{suf} + CAST(1 AS DOUBLE)) AS z_{suf}",
        f"z_{suf} * z_{suf} AS z2_{suf}",
        f"CAST(k_{suf} AS DOUBLE) * {_LN2} "
        f"+ CAST(2 AS DOUBLE) * z_{suf} * {horner} AS ln_{suf}",
    ]


def _det_ln_steps(args: dict[str, str], out: str, combine: str) -> list[str]:
    """Select-list steps: every ``_det_ln_exprs`` step for each
    (suffix -> BIGINT expr) in ``args``, then ``combine`` (referencing
    the ``ln_<suf>`` aliases) as ``out``. The SAME list feeds the
    oracle's SQL text and the Spark ``selectExpr`` so both engines run
    the identical operation sequence."""
    steps: list[str] = []
    for suf, x in args.items():
        steps.extend(_det_ln_exprs(x, suf))
    steps.append(f"{combine} AS {out}")
    return steps


# ---------------------------------------------------------------------------
# multinomial Naive Bayes
# ---------------------------------------------------------------------------

NB_MIN_DF = 3  # vocab = tokens with total corpus frequency >= NB_MIN_DF

_NB_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

# per-term weight w = ln((c1+1)/(n1+v)) - ln((c0+1)/(n0+v)), each ln via
# the deterministic integer-ln block. The weight is quantized to exact
# BIGINT picounits (1e-12) with FLOOR(x*1e12 + 0.5) rather than
# ROUND(x, 12): engine ROUND on doubles is NOT cross-engine stable
# (Spark rounds the exact binary expansion via BigDecimal HALF_UP,
# DuckDB rounds in multiplied double space — at sf0.1 one per-doc
# margin landed on a round-9 tie they resolved differently), while
# FLOOR and * and + are single correctly-rounded IEEE ops that give
# bitwise-identical results on the bitwise-identical ln outputs.
# Everything downstream of the quantization is exact integer
# arithmetic, so no further tie can exist.
_NB_W_STEPS = _det_ln_steps(
    {"a": "c1 + 1", "b": "n1 + v", "c": "c0 + 1", "d": "n0 + v"},
    "w_u",
    "CAST(FLOOR(((ln_a - ln_b) - (ln_c - ln_d)) * 1e12 + 0.5) AS BIGINT)",
)
# class prior b = ln(nd1/nd0) over the exact per-class doc counts,
# quantized to the same exact picounit grid
_NB_B_STEPS = _det_ln_steps(
    {"p": "nd1", "q": "nd0"},
    "b_u",
    "CAST(FLOOR((ln_p - ln_q) * 1e12 + 0.5) AS BIGINT)",
)
_NB_W_BLOCK = ",\n               ".join(_NB_W_STEPS)
_NB_B_BLOCK = ",\n               ".join(_NB_B_STEPS)


@query(
    "ml_nb_train_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, doc_id % 2 AS c,
               unnest({_NB_TOKS}) AS term
        FROM documents
    ),
    counts AS (
        SELECT term,
               SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS c0,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS c1
        FROM tok GROUP BY term
    ),
    vocab AS (
        SELECT term, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1
        FROM counts WHERE c0 + c1 >= {NB_MIN_DF}
    ),
    tot AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM vocab
    ),
    llr AS (
        SELECT term,
               {_NB_W_BLOCK}
        FROM vocab, tot
    ),
    prior AS (
        SELECT {_NB_B_BLOCK}
        FROM (
            SELECT CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nd1,
                   CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd0
            FROM documents
        )
    ),
    scored AS (
        SELECT t.doc_id, t.c,
               CAST(SUM(l.w_u) AS BIGINT) + p.b_u AS pico
        FROM tok t JOIN llr l ON t.term = l.term, prior p
        GROUP BY t.doc_id, t.c, p.b_u
    )
    SELECT c AS true_class,
           CASE WHEN pico > 0 THEN 1 ELSE 0 END AS pred_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(pico) AS BIGINT) AS DOUBLE) / COUNT(*) / 1e12 AS avg_margin
    FROM scored
    GROUP BY true_class, pred_class
    ORDER BY true_class, pred_class
    """,
    tags=("llm", "ml-train", "text"),
    scans=(
        "score pass re-tokenizes the corpus against the broadcast model — train and score are the two documented corpus passes of NB",
        "class-prior pass is a doc_id-only pruned scan (1-row aggregate)",
    ),
    bench=True,
)
def ml_nb_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained and scored in one job: binary
    task c = doc_id % 2, Laplace-smoothed per-class token likelihoods
    over a min-df vocab, per-doc log-likelihood-ratio margin, confusion
    matrix with mean margins. Train = one token groupBy (vocab-sized
    model table); score = model join + doc groupBy. At 100 TB the
    model stays vocab-bounded and the corpus is touched twice, both
    passes map-side-combinable; OOV tokens drop out of the inner join
    exactly as the oracle's."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        (F.col("doc_id") % 2).alias("c"),
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("term"),
    )
    counts = tok.groupBy("term").agg(
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("c1"),
    )
    # r13: vocab feeds BOTH the totals aggregate and the llr model —
    # unpinned, each consumer replayed the full corpus tokenize +
    # term groupBy (4 documents scans in the before-plan, kept in git
    # history: git show eb0f198:plans/r13/ml_nb_train_score_before.txt).
    # The pin bounds the train pass to one tokenization; vocab is
    # min-df-bounded state.
    vocab = pin(counts.filter(F.col("c0") + F.col("c1") >= NB_MIN_DF))
    tot = vocab.agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1"), F.count(F.lit(1)).alias("v")
    )
    # r14 (VERDICT r13 task 2): w and b run the deterministic integer-ln
    # expression blocks — the IDENTICAL generated text the oracle runs —
    # so the round-12 ties that split Spark's Math.log from DuckDB's
    # std::log at sf0.1 cannot occur (see _det_ln_exprs).
    llr = (
        vocab.crossJoin(F.broadcast(tot))
        .selectExpr("term", *_NB_W_STEPS)
        .select("term", "w_u")
    )
    prior = d.agg(
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("nd1"),
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("nd0"),
    ).selectExpr(*_NB_B_STEPS).select("b_u")
    # r13 (guide §3.1): the model table is vocab-bounded (min-df) — the
    # docstring's "broadcast join + doc-level groupBy" was planning as a
    # shuffle join, sending the whole corpus TOKEN STREAM across an
    # exchange keyed on term before the per-doc reduce. Broadcasting the
    # model removes that corpus-sized shuffle; the scoring pass now
    # shuffles only per-doc partial sums.
    # downstream of the picounit quantization everything is exact BIGINT
    # arithmetic (per-doc sum, sign test, per-cell sum) — the SAME
    # expression text as the oracle — and the only remaining float ops
    # are int64->double casts and two divides, each a single correctly
    # rounded IEEE op, so the engines agree bitwise by construction.
    scored = (
        tok.join(F.broadcast(llr), "term")
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id", "c", "b_u")
        .agg(F.expr("CAST(SUM(w_u) AS BIGINT) + b_u").alias("pico"))
    )
    return (
        scored.groupBy(
            F.col("c").alias("true_class"),
            F.expr("CASE WHEN pico > 0 THEN 1 ELSE 0 END").alias("pred_class"),
        )
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(CAST(SUM(pico) AS BIGINT) AS DOUBLE) / COUNT(*) / 1e12").alias(
                "avg_margin"
            ),
        )
        .orderBy("true_class", "pred_class")
    )


# ---------------------------------------------------------------------------
# logistic regression by unrolled full-batch gradient descent
# ---------------------------------------------------------------------------

LR_ETA = "0.1"  # learning rate, shared literal
LR_EPOCHS = 3

_LR_FEAT = """
        SELECT o_orderkey % 7 AS x1,
               CASE o_orderpriority
                    WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
                    ELSE 5 END AS x2,
               o_custkey % 2 AS y
        FROM orders
"""


def _lr_sql_epoch_flat(i: int) -> str:
    """One oracle epoch: squash, residual gradient, coefficient update."""
    prev = f"b{i - 1}"
    return f"""
    g{i} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(
                   0.5 + 0.5 * (b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2)
                       / (1 + ABS(b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2))
                   - f.y, 6) * 1.0 AS DECIMAL(28,6))) AS DOUBLE) AS g0,
               CAST(SUM(CAST(ROUND(
                   0.5 + 0.5 * (b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2)
                       / (1 + ABS(b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2))
                   - f.y, 6) * f.x1 AS DECIMAL(28,6))) AS DOUBLE) AS g1,
               CAST(SUM(CAST(ROUND(
                   0.5 + 0.5 * (b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2)
                       / (1 + ABS(b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2))
                   - f.y, 6) * f.x2 AS DECIMAL(28,6))) AS DOUBLE) AS g2,
               MIN(b.beta0) AS pb0, MIN(b.beta1) AS pb1, MIN(b.beta2) AS pb2
        FROM feat f, {prev} b
    ),
    b{i} AS (
        SELECT pb0 - CAST({LR_ETA} AS DOUBLE) * g0 / n AS beta0,
               pb1 - CAST({LR_ETA} AS DOUBLE) * g1 / n AS beta1,
               pb2 - CAST({LR_ETA} AS DOUBLE) * g2 / n AS beta2
        FROM g{i}
    )"""


_LR_ORACLE = (
    f"WITH feat AS ({_LR_FEAT}),\n    b0 AS (SELECT CAST(0.0 AS DOUBLE) AS beta0,"
    " CAST(0.0 AS DOUBLE) AS beta1, CAST(0.0 AS DOUBLE) AS beta2),"
    + ",".join(_lr_sql_epoch_flat(i) for i in range(1, LR_EPOCHS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS epoch, beta0, beta1, beta2 FROM b{i}"
        for i in range(1, LR_EPOCHS + 1)
    )
    + "\n    ORDER BY epoch"
)


@query("ml_logreg_gd", oracle=_LR_ORACLE, tags=("llm", "ml-train", "iterative"))
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch gradient-descent logistic regression, three unrolled
    epochs in one DAG. The epoch state is a 1-row coefficient frame
    crossJoin(broadcast)-ed into the next epoch's scan — no driver
    collect, so on a cluster each epoch is one map-side-combined agg
    over the corpus and the chain is Catalyst-planned end to end (the
    kmeans-Lloyd unrolling pattern, queries/llm_curation.py). The
    rational squash p = 0.5 + 0.5·z/(1+|z|) stands in for sigmoid:
    same monotone S-shape, zero transcendentals; residuals snap to a
    6-dp grid before the exact decimal(28,6) gradient sums so both
    engines add identical rationals (round-12 of full-entropy repeated
    residuals hit a HALF_UP-vs-binary boundary at sf0.001)."""
    o = load_table(spark, sf_dir, "orders")
    x2 = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
    )
    feat = o.select(
        (F.col("o_orderkey") % 7).alias("x1"),
        x2.alias("x2"),
        (F.col("o_custkey") % 2).alias("y"),
    )
    eta = F.lit(float(LR_ETA))
    feat = pin(feat)  # consumed per epoch (scan-leaf lint)
    beta = spark.createDataFrame(
        [(0.0, 0.0, 0.0)], "beta0 double, beta1 double, beta2 double"
    )
    snapshots = []
    for epoch in range(1, LR_EPOCHS + 1):
        z = F.col("beta0") + F.col("beta1") * F.col("x1") + F.col("beta2") * F.col("x2")
        p = 0.5 + 0.5 * z / (1 + F.abs(z))
        # 6-dp residual snap: discrete features repeat the same r across
        # many rows, so a single .5e-12 HALF_UP-vs-binary boundary case
        # multiplies (sf0.001 hit r=0.5000499950005 on 23 rows). A 6-dp
        # grid keeps every term an exact 6-dp rational, decimal(28,6)-
        # summable with a cast-safe digit budget.
        r = F.round(p - F.col("y"), 6)
        g = (
            feat.crossJoin(F.broadcast(beta))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((r * 1.0).cast("decimal(28,6)")).cast("double").alias("g0"),
                F.sum((r * F.col("x1")).cast("decimal(28,6)")).cast("double").alias("g1"),
                F.sum((r * F.col("x2")).cast("decimal(28,6)")).cast("double").alias("g2"),
                F.min("beta0").alias("pb0"),
                F.min("beta1").alias("pb1"),
                F.min("beta2").alias("pb2"),
            )
        )
        beta = g.select(
            (F.col("pb0") - eta * F.col("g0") / F.col("n")).alias("beta0"),
            (F.col("pb1") - eta * F.col("g1") / F.col("n")).alias("beta1"),
            (F.col("pb2") - eta * F.col("g2") / F.col("n")).alias("beta2"),
        )
        snapshots.append(beta.select(F.lit(epoch).alias("epoch"), "beta0", "beta1", "beta2"))
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionAll(s)
    return out.orderBy("epoch")


# ---------------------------------------------------------------------------
# item-item collaborative filtering
# ---------------------------------------------------------------------------

CF_TOP_K = 3


@query(
    "ml_item_cf_cosine",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey % 200 AS item
        FROM lineitem
    ),
    item_n AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM basket GROUP BY item
    ),
    pair AS (
        SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS c
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    sym AS (
        SELECT i, j, c FROM pair
        UNION ALL
        SELECT j AS i, i AS j, c FROM pair
    ),
    scored AS (
        SELECT s.i AS item, s.j AS neighbor, s.c AS support,
               s.c / SQRT(CAST(ni.n * nj.n AS DOUBLE)) AS cosine
        FROM sym s
        JOIN item_n ni ON s.i = ni.item
        JOIN item_n nj ON s.j = nj.item
    ),
    ranked AS (
        SELECT item, neighbor, support, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY item
                   ORDER BY ROUND(cosine, 9) DESC, neighbor ASC
               ) AS rank
        FROM scored
    )
    SELECT item, neighbor, support, cosine, rank
    FROM ranked WHERE rank <= {CF_TOP_K}
    ORDER BY item, rank
    """,
    tags=("llm", "ml-train", "recsys"),
)
def ml_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: order-basket co-occurrence
    counts → cosine similarity c_ij/√(n_i·n_j) → top-3 neighbors per
    item. The self-join is keyed on the basket id, so cost is
    Σ|basket|² (the market-basket shape), never items² or corpus²; at
    100 TB the item-count side is an items-sized table joined twice
    (broadcastable when the catalog is small). sqrt is IEEE
    correctly-rounded — bit-identical across engines — and ranking is
    quantize-then-rank (round-9, neighbor tiebreak) so window order
    never depends on a last-ulp."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("ok"), (F.col("l_partkey") % 200).alias("item")
    ).distinct()
    basket = pin(basket)  # margins + both join sides (scan-leaf lint)
    item_n = basket.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = basket.alias("a")
    b = basket.alias("b")
    pair = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = pin(pair)  # both sym legs (scan-leaf lint)
    sym = pair.unionAll(pair.select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
    ni = item_n.select(F.col("item").alias("i"), F.col("n").alias("n_i"))
    nj = item_n.select(F.col("item").alias("j"), F.col("n").alias("n_j"))
    scored = (
        sym.join(F.broadcast(ni), "i")
        .join(F.broadcast(nj), "j")
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("c").alias("support"),
            (F.col("c") / F.sqrt((F.col("n_i") * F.col("n_j")).cast("double"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.round("cosine", 9).desc(), F.col("neighbor").asc()
    )
    return (
        scored.select("item", "neighbor", "support", "cosine", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= CF_TOP_K)
        .orderBy("item", "rank")
    )


# ---------------------------------------------------------------------------
# gradient-boosted stumps (two boosting rounds, squared loss)
# ---------------------------------------------------------------------------

GB_NU = "0.5"  # shrinkage, shared literal
GB_ROUNDS = 2

_GB_FEAT = """
        SELECT o_orderkey % 7 AS x1,
               CASE o_orderpriority
                    WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
                    ELSE 5 END AS x2,
               o_totalprice AS y
        FROM orders
"""


def _gb_sql_round(i: int) -> str:
    """One boosting round over residual table r{i-1}(x1, x2, r):
    stacked per-(feature, bin) sufficient stats, cumulative split scan,
    argmax split, residual update, and MSE."""
    prev = f"r{i - 1}"
    return f"""
    stats{i} AS (
        SELECT f, b, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(r, 6) AS DECIMAL(28,6))) AS DOUBLE) AS s
        FROM (
            SELECT 1 AS f, x1 AS b, r FROM {prev}
            UNION ALL
            SELECT 2 AS f, x2 AS b, r FROM {prev}
        ) GROUP BY f, b
    ),
    cum{i} AS (
        SELECT f, b,
               SUM(n) OVER (PARTITION BY f ORDER BY b ROWS UNBOUNDED PRECEDING) AS nl,
               SUM(s) OVER (PARTITION BY f ORDER BY b ROWS UNBOUNDED PRECEDING) AS sl,
               SUM(n) OVER (PARTITION BY f) AS nt,
               SUM(s) OVER (PARTITION BY f) AS st,
               MAX(b) OVER (PARTITION BY f) AS bmax
        FROM stats{i}
    ),
    best{i} AS (
        SELECT f AS feature, b AS split_bin,
               sl / nl AS leaf_l, (st - sl) / (nt - nl) AS leaf_r
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY
                       ROUND(sl * sl / nl + (st - sl) * (st - sl) / (nt - nl), 3) DESC,
                       f ASC, b ASC) AS rk
            FROM cum{i} WHERE b < bmax
        ) WHERE rk = 1
    ),
    r{i} AS (
        SELECT p.x1, p.x2,
               p.r - CAST({GB_NU} AS DOUBLE) *
                   (CASE WHEN b.feature = 1
                         THEN CASE WHEN p.x1 <= b.split_bin THEN b.leaf_l ELSE b.leaf_r END
                         ELSE CASE WHEN p.x2 <= b.split_bin THEN b.leaf_l ELSE b.leaf_r END
                    END) AS r
        FROM {prev} p, best{i} b
    ),
    mse{i} AS (
        SELECT CAST(SUM(CAST(ROUND(r * r, 0) AS DECIMAL(38,0))) AS DOUBLE)
                   / COUNT(*) AS mse
        FROM r{i}
    )"""


_GB_ORACLE = (
    f"""WITH feat AS ({_GB_FEAT}),
    f0 AS (
        SELECT CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu FROM feat
    ),
    r0 AS (SELECT x1, x2, y - f0.mu AS r FROM feat, f0),"""
    + ",".join(_gb_sql_round(i) for i in range(1, GB_ROUNDS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS round, b.feature, b.split_bin, ROUND(b.leaf_l, 6) AS leaf_left,"
        f" ROUND(b.leaf_r, 6) AS leaf_right, ROUND(m.mse, 3) AS mse"
        f" FROM best{i} b, mse{i} m"
        for i in range(1, GB_ROUNDS + 1)
    )
    + "\n    ORDER BY round"
)


@query("ml_gb_stumps", oracle=_GB_ORACLE, tags=("llm", "ml-train", "iterative"))
def ml_gb_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with depth-1 regression stumps
    under squared loss — the inner loop of every distributed GBDT
    (XGBoost/LightGBM histogram method): per-round sufficient
    statistics are (count, residual-sum) per (feature, bin), the split
    scan is a cumulative window over the BIN table (≤12 rows, never
    the corpus), and the chosen stump re-enters the next round's scan
    as a broadcast 1-row plan. Residuals are money-scale, so the
    decimal(28,6) round-6 sum pattern applies; split argmax is
    quantize-then-rank (gain round-3, feature/bin tiebreak). At 100 TB
    each round is one stacked map-side-combined agg + one scalar
    broadcast — the histogram-method scaling argument verbatim."""
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
    mu = feat.agg(
        (F.sum(F.col("y").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        )
    )
    # The residual frame is consumed 3x per round (two stacked scans,
    # the next round's update) and each round chains on the last -
    # unpinned, the orders lineage multiplied to 40 parquet-scan
    # leaves. Pinning per round is the standard GBDT shape: residual
    # state is materialized once per boosting round.
    cur = pin(feat.crossJoin(F.broadcast(mu)).select(
        "x1", "x2", (F.col("y") - F.col("mu")).alias("r")
    ))
    nu = F.lit(float(GB_NU))
    out_rows = []
    for rnd in range(1, GB_ROUNDS + 1):
        stacked = cur.select(F.lit(1).alias("f"), F.col("x1").alias("b"), "r").unionAll(
            cur.select(F.lit(2).alias("f"), F.col("x2").alias("b"), "r")
        )
        stats = stacked.groupBy("f", "b").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round("r", 6).cast("decimal(28,6)")).cast("double").alias("s"),
        )
        wcum = Window.partitionBy("f").orderBy("b").rowsBetween(
            Window.unboundedPreceding, 0
        )
        wall = Window.partitionBy("f")
        cum = stats.select(
            "f",
            "b",
            F.sum("n").over(wcum).alias("nl"),
            F.sum("s").over(wcum).alias("sl"),
            F.sum("n").over(wall).alias("nt"),
            F.sum("s").over(wall).alias("st"),
            F.max("b").over(wall).alias("bmax"),
        )
        gain = F.round(
            F.col("sl") * F.col("sl") / F.col("nl")
            + (F.col("st") - F.col("sl")) * (F.col("st") - F.col("sl"))
            / (F.col("nt") - F.col("nl")),
            3,
        )
        wrk = Window.orderBy(gain.desc(), F.col("f").asc(), F.col("b").asc())
        best = pin(
            cum.filter(F.col("b") < F.col("bmax"))
            .select(
                F.col("f").alias("feature"),
                F.col("b").alias("split_bin"),
                (F.col("sl") / F.col("nl")).alias("leaf_l"),
                ((F.col("st") - F.col("sl")) / (F.col("nt") - F.col("nl"))).alias(
                    "leaf_r"
                ),
                F.row_number().over(wrk).alias("rk"),
            )
            .filter(F.col("rk") == 1)
            .drop("rk")
        )  # 1-row stump: feeds next round AND the output row
        leaf = F.when(
            F.col("feature") == 1,
            F.when(F.col("x1") <= F.col("split_bin"), F.col("leaf_l")).otherwise(
                F.col("leaf_r")
            ),
        ).otherwise(
            F.when(F.col("x2") <= F.col("split_bin"), F.col("leaf_l")).otherwise(
                F.col("leaf_r")
            )
        )
        cur = pin(cur.crossJoin(F.broadcast(best)).select(
            "x1", "x2", (F.col("r") - nu * leaf).alias("r")
        ))
        mse = cur.agg(
            (
                F.sum(F.round(F.col("r") * F.col("r"), 0).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("mse")
        )
        out_rows.append(
            best.crossJoin(F.broadcast(mse)).select(
                F.lit(rnd).alias("round"),
                "feature",
                "split_bin",
                F.round("leaf_l", 6).alias("leaf_left"),
                F.round("leaf_r", 6).alias("leaf_right"),
                F.round("mse", 3).alias("mse"),
            )
        )
    out = out_rows[0]
    for s in out_rows[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# hashing-trick feature vectorization
# ---------------------------------------------------------------------------

FH_BUCKETS = 16

_FH_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


@query(
    "ml_feature_hash_vectorize",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_FH_TOKS}) AS term FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(term), 1, 8)) AS BIGINT) % {FH_BUCKETS} AS bucket,
               CASE WHEN CAST(concat('0x', substring(md5(term), 9, 1)) AS BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM tok
    )
    SELECT doc_id, bucket,
           CAST(SUM(sign) AS BIGINT) AS feature_value,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM hashed
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
    tags=("llm", "ml-train", "features"),
)
def ml_feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectorization (Weinberger et al. 2009):
    each token hashes to one of 16 signed buckets, per-doc bucket sums
    form the fixed-width feature vector — the stateless, vocab-free
    featurizer that needs no fitted dictionary and therefore no
    driver-side state at any corpus size. The signed second hash makes
    bucket collisions unbiased. One explode + one (doc, bucket)
    groupBy; values stay integer end-to-end. The bucket hash is the md5
    prefix, which DuckDB replays bit-for-bit (as in dsir_bucket_expr):
    the bucket ids are part of the result."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("term"),
    )
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint") % FH_BUCKETS
    )
    sign = F.when(
        F.conv(F.substring(F.md5("term"), 9, 1), 16, 10).cast("bigint") % 2 == 0, 1
    ).otherwise(-1)
    return (
        tok.select("doc_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sign").cast("bigint").alias("feature_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
        .orderBy("doc_id", "bucket")
    )


# ---------------------------------------------------------------------------
# multi-armed bandit arm statistics
# ---------------------------------------------------------------------------


@query(
    "events_bandit_ucb",
    oracle="""
    WITH arms AS (
        SELECT event_type AS arm,
               CAST(COUNT(*) AS BIGINT) AS n_pulls,
               CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_wins
        FROM events GROUP BY event_type
    ),
    tot AS (SELECT CAST(SUM(n_pulls) AS BIGINT) AS n_total FROM arms)
    SELECT arm, n_pulls, n_wins,
           ROUND(CAST(n_wins AS DOUBLE) / n_pulls, 9) AS mean_reward,
           ROUND(CAST(n_wins + 1 AS DOUBLE) / (n_pulls + 2), 9) AS posterior_mean,
           ROUND(CAST(n_wins AS DOUBLE) / n_pulls
                 + SQRT(2.0 * ROUND(LN(CAST(n_total AS DOUBLE)), 12) / n_pulls), 9)
               AS ucb1
    FROM arms, tot
    ORDER BY arm
    """,
    tags=("llm", "ml-train", "bandit"),
)
def events_bandit_ucb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-armed-bandit arm statistics from logged feedback: per-arm
    pull/win counts, empirical mean, Beta(1,1) Thompson posterior
    mean, and the UCB1 index mean + sqrt(2 ln N / n) — the nightly
    batch job that re-fits an explore/exploit policy from the event
    log. One grouped count pass; the arm table is category-sized, so
    the index arithmetic is free at any corpus scale. ln follows the
    round-12 pattern; sqrt is IEEE-exact."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy(F.col("event_type").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pulls"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("bigint").alias("n_wins"),
    )
    tot = arms.agg(F.sum("n_pulls").cast("bigint").alias("n_total"))
    mean = F.col("n_wins").cast("double") / F.col("n_pulls")
    return (
        arms.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n_pulls",
            "n_wins",
            F.round(mean, 9).alias("mean_reward"),
            F.round(
                (F.col("n_wins") + 1).cast("double") / (F.col("n_pulls") + 2), 9
            ).alias("posterior_mean"),
            F.round(
                mean
                + F.sqrt(
                    2.0
                    * F.round(F.log(F.col("n_total").cast("double")), 12)
                    / F.col("n_pulls")
                ),
                9,
            ).alias("ucb1"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# leave-one-out hit-rate evaluation of the CF neighbor model
# ---------------------------------------------------------------------------

_CF_CTES = f"""
    basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey % 200 AS item
        FROM lineitem
    ),
    item_n AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM basket GROUP BY item
    ),
    pair AS (
        SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS c
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    sym AS (
        SELECT i, j, c FROM pair
        UNION ALL
        SELECT j AS i, i AS j, c FROM pair
    ),
    ranked AS (
        SELECT item, neighbor,
               ROW_NUMBER() OVER (
                   PARTITION BY item
                   ORDER BY ROUND(cosine, 9) DESC, neighbor ASC
               ) AS rank
        FROM (
            SELECT s.i AS item, s.j AS neighbor,
                   s.c / SQRT(CAST(ni.n * nj.n AS DOUBLE)) AS cosine
            FROM sym s
            JOIN item_n ni ON s.i = ni.item
            JOIN item_n nj ON s.j = nj.item
        )
    ),
    topk AS (SELECT item, neighbor FROM ranked WHERE rank <= {CF_TOP_K})
"""


@query(
    "ml_cf_hitrate_eval",
    oracle=f"""
    WITH {_CF_CTES},
    held AS (
        SELECT ok, MAX(item) AS held, CAST(COUNT(*) AS BIGINT) AS bsize
        FROM basket GROUP BY ok HAVING COUNT(*) >= 2
    ),
    rest AS (
        SELECT b.ok, b.item
        FROM basket b JOIN held h ON b.ok = h.ok AND b.item <> h.held
    ),
    cand AS (
        SELECT DISTINCT r.ok, t.neighbor
        FROM rest r JOIN topk t ON r.item = t.item
    ),
    scored_orders AS (
        SELECT h.ok, h.bsize,
               CASE WHEN c.neighbor IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM held h LEFT JOIN cand c
            ON c.ok = h.ok AND c.neighbor = h.held
    )
    SELECT CAST(LEAST(bsize, 5) AS BIGINT) AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 9) AS hit_rate
    FROM scored_orders
    GROUP BY LEAST(bsize, 5)
    ORDER BY size_bucket
    """,
    tags=("llm", "ml-train", "recsys"),
)
def ml_cf_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out hit-rate@k for the item-item CF model: hold out
    each basket's max item, predict from the top-3 neighbors of the
    remaining items, report hit rate by basket size. The offline eval
    every recommender retrain job runs (here with the standard
    train-on-all simplification — neighbors are fit on the full
    baskets, so the rate is an optimistic in-sample bound, as the
    docstringed production caveat). Eval cost is one candidate join
    (rest x top-3) plus a per-order existence probe — all equi-joins
    on ok/item keys, integer end-to-end until the final rate."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("ok"), (F.col("l_partkey") % 200).alias("item")
    ).distinct()
    basket = pin(basket)  # margins + both join sides (scan-leaf lint)
    item_n = basket.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = basket.alias("a")
    b = basket.alias("b")
    pair = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = pin(pair)  # both sym legs (scan-leaf lint)
    sym = pair.unionAll(pair.select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
    ni = item_n.select(F.col("item").alias("i"), F.col("n").alias("n_i"))
    nj = item_n.select(F.col("item").alias("j"), F.col("n").alias("n_j"))
    wrank = Window.partitionBy("item").orderBy(
        F.round("cosine", 9).desc(), F.col("neighbor").asc()
    )
    topk = (
        sym.join(F.broadcast(ni), "i")
        .join(F.broadcast(nj), "j")
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            (F.col("c") / F.sqrt((F.col("n_i") * F.col("n_j")).cast("double"))).alias(
                "cosine"
            ),
        )
        .select("item", "neighbor", F.row_number().over(wrank).alias("rank"))
        .filter(F.col("rank") <= CF_TOP_K)
        .drop("rank")
    )
    held = (
        basket.groupBy("ok")
        .agg(F.max("item").alias("held"), F.count(F.lit(1)).cast("bigint").alias("bsize"))
        .filter(F.col("bsize") >= 2)
    )
    rest = basket.join(held, "ok").filter(F.col("item") != F.col("held")).select(
        "ok", "item"
    )
    cand = rest.join(topk, "item").select("ok", "neighbor").distinct()
    hit_join = held.join(
        cand,
        (cand["ok"] == held["ok"]) & (cand["neighbor"] == held["held"]),
        "left",
    ).select(
        held["ok"],
        "bsize",
        F.when(cand["neighbor"].isNotNull(), 1).otherwise(0).alias("hit"),
    )
    return (
        hit_join.groupBy(F.least(F.col("bsize"), F.lit(5)).cast("bigint").alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("hit").cast("bigint").alias("n_hits"),
            F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 9).alias("hit_rate"),
        )
        .orderBy("size_bucket")
    )


# ---------------------------------------------------------------------------
# linear SVM by unrolled subgradient descent on the hinge loss
# ---------------------------------------------------------------------------

SVM_ETA = "0.05"
SVM_LAMBDA = "0.01"
SVM_EPOCHS = 3


def _svm_sql_epoch(i: int) -> str:
    prev = f"w{i - 1}"
    margin = "(w.w0 + w.w1 * f.x1 + w.w2 * f.x2) * f.yy"
    return f"""
    sg{i} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CASE WHEN {margin} < 1
                    THEN -f.yy ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE) AS g0,
               CAST(SUM(CAST(CASE WHEN {margin} < 1
                    THEN -f.yy * f.x1 ELSE 0 END AS DECIMAL(28,6)))
                    AS DOUBLE) AS g1,
               CAST(SUM(CAST(CASE WHEN {margin} < 1
                    THEN -f.yy * f.x2 ELSE 0 END AS DECIMAL(28,6)))
                    AS DOUBLE) AS g2,
               MIN(w.w0) AS pw0, MIN(w.w1) AS pw1, MIN(w.w2) AS pw2
        FROM feat f, {prev} w
    ),
    w{i} AS (
        SELECT pw0 - CAST({SVM_ETA} AS DOUBLE)
                   * (g0 / n + CAST({SVM_LAMBDA} AS DOUBLE) * pw0) AS w0,
               pw1 - CAST({SVM_ETA} AS DOUBLE)
                   * (g1 / n + CAST({SVM_LAMBDA} AS DOUBLE) * pw1) AS w1,
               pw2 - CAST({SVM_ETA} AS DOUBLE)
                   * (g2 / n + CAST({SVM_LAMBDA} AS DOUBLE) * pw2) AS w2
        FROM sg{i}
    )"""


_SVM_ORACLE = (
    f"""WITH feat AS (
        SELECT o_orderkey % 7 AS x1,
               CASE o_orderpriority
                    WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
                    ELSE 5 END AS x2,
               (o_custkey % 2) * 2 - 1 AS yy
        FROM orders
    ),
    w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                  CAST(0.0 AS DOUBLE) AS w2),"""
    + ",".join(_svm_sql_epoch(i) for i in range(1, SVM_EPOCHS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS epoch, round(w0, 12) AS w0, round(w1, 12) AS w1, "
        f"round(w2, 12) AS w2 FROM w{i}"
        for i in range(1, SVM_EPOCHS + 1)
    )
    + "\n    ORDER BY epoch"
)


@query("ml_svm_hinge_gd", oracle=_SVM_ORACLE, tags=("llm", "ml-train", "iterative"))
def ml_svm_hinge_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear SVM by unrolled full-batch subgradient descent on the
    L2-regularized hinge loss — the max-margin counterpart to
    ml_logreg_gd, completing the linear-trainer family (NB, logistic,
    ridge, boosted stumps, SVM). Determinism is cleaner than the
    logistic case: the hinge subgradient terms -y·x·1[margin<1] are
    pure INTEGERS (labels ±1, integer features), so decimal(28,6)
    sums are exact with no rounding at all — the only doubles are the
    three coefficients, updated by identical IEEE expressions in both
    engines. Same scale shape: each epoch is one map-side-combined
    aggregate over the corpus, coefficients ride a broadcast 1-row
    frame, and the whole 3-epoch chain is Catalyst-planned end to
    end."""
    o = load_table(spark, sf_dir, "orders")
    x2 = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
    )
    feat = o.select(
        (F.col("o_orderkey") % 7).alias("x1"),
        x2.alias("x2"),
        ((F.col("o_custkey") % 2) * 2 - 1).alias("yy"),
    )
    eta, lam = float(SVM_ETA), float(SVM_LAMBDA)
    feat = pin(feat)  # consumed per epoch (scan-leaf lint)
    w = spark.createDataFrame([(0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double")
    snapshots = []
    for _ in range(SVM_EPOCHS):
        margin = (
            F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        ) * F.col("yy")
        viol = margin < 1
        g = feat.crossJoin(F.broadcast(w)).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(viol, -F.col("yy")).otherwise(0).cast("decimal(28,6)"))
            .cast("double")
            .alias("g0"),
            F.sum(
                F.when(viol, -F.col("yy") * F.col("x1"))
                .otherwise(0)
                .cast("decimal(28,6)")
            )
            .cast("double")
            .alias("g1"),
            F.sum(
                F.when(viol, -F.col("yy") * F.col("x2"))
                .otherwise(0)
                .cast("decimal(28,6)")
            )
            .cast("double")
            .alias("g2"),
            F.min("w0").alias("pw0"),
            F.min("w1").alias("pw1"),
            F.min("w2").alias("pw2"),
        )
        w = g.select(
            (F.col("pw0") - eta * (F.col("g0") / F.col("n") + lam * F.col("pw0"))).alias("w0"),
            (F.col("pw1") - eta * (F.col("g1") / F.col("n") + lam * F.col("pw1"))).alias("w1"),
            (F.col("pw2") - eta * (F.col("g2") / F.col("n") + lam * F.col("pw2"))).alias("w2"),
        )
        snapshots.append(w)
    out = None
    for i, snap in enumerate(snapshots, start=1):
        row = snap.select(
            F.lit(i).alias("epoch"),
            F.round("w0", 12).alias("w0"),
            F.round("w1", 12).alias("w1"),
            F.round("w2", 12).alias("w2"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("epoch")


# ---------------------------------------------------------------------------
# quantile regression by pinball-loss grid search
# ---------------------------------------------------------------------------

QR_TAUS = ("0.5", "0.9")
# candidates pre-scaled by 1e-4 (the price scale): exact-double
# intercepts (multiples of 0.25) and repr-literal slopes shared by
# both engines
QR_SLOPES = tuple(repr((2500 + 250 * i) * 1e-4) for i in range(9))
QR_INTERCEPTS = tuple(repr((-5000 + 2500 * i) * 1e-4) for i in range(9))


@query(
    "ml_quantile_regression_grid",
    oracle=f"""
    WITH cand AS (
        SELECT CAST(t.tau AS DOUBLE) AS tau, CAST(a.a AS DOUBLE) AS a,
               CAST(b.b AS DOUBLE) AS b
        FROM (VALUES {", ".join(f"({t})" for t in QR_TAUS)}) t(tau),
             (VALUES {", ".join(f"({a})" for a in QR_INTERCEPTS)}) a(a),
             (VALUES {", ".join(f"({b})" for b in QR_SLOPES)}) b(b)
    ),
    pts AS (
        SELECT l_quantity AS x,
               CAST(CAST(l_extendedprice * 0.0001 AS DECIMAL(18,6))
                    AS DOUBLE) AS y
        FROM lineitem
    ),
    losses AS (
        SELECT c.tau, c.a, c.b,
               CAST(SUM(CAST(
                   CASE WHEN p.y - (c.a + c.b * p.x) >= 0
                        THEN c.tau * (p.y - (c.a + c.b * p.x))
                        ELSE (c.tau - 1) * (p.y - (c.a + c.b * p.x)) END
                   AS DECIMAL(28,7))) AS DOUBLE) AS loss
        FROM pts p, cand c
        GROUP BY c.tau, c.a, c.b
    ),
    best AS (
        SELECT tau, a, b, loss,
               ROW_NUMBER() OVER (PARTITION BY tau
                                  ORDER BY loss, a, b) AS rn
        FROM losses
    )
    SELECT tau, a AS intercept, b AS slope, round(loss, 6) AS pinball_loss
    FROM best WHERE rn = 1
    ORDER BY tau
    """,
    tags=("llm", "ml-train"),
)
def ml_quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression (pinball / check loss) fit by exhaustive
    grid search over a broadcast candidate lattice — the
    embarrassingly-parallel form that replaces iterative IRLS at
    corpus scale: every (tau, intercept, slope) candidate scores in
    ONE shared pass over the data (81 candidates x 2 taus ride the
    same scan via a broadcast cross join, map-side decimal partials),
    and the argmin per tau is a 162-row window. The tau=0.9 line
    sitting above the tau=0.5 line is the heteroscedasticity read.
    Prices and candidates are pre-scaled by 1e-4 and the price snaps
    to a 6-dp grid, so per-row losses are IDENTICAL ~8-sig-digit
    doubles in both engines and the decimal(28,7) cast/sum is
    boundary-free (tau x a 6-dp grid lands on exact 7-dp decimals, so
    the cast scale must be 7, not 6) (the repeated-residual lesson: never round a
    full-entropy 7-dp value at 6 dp)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").alias("x"),
        (F.col("l_extendedprice") * 0.0001)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("y"),
    )
    cand = spark.createDataFrame(
        [
            (float(t), float(a), float(b))
            for t in QR_TAUS
            for a in QR_INTERCEPTS
            for b in QR_SLOPES
        ],
        "tau double, a double, b double",
    )
    resid = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    pinball = F.when(resid >= 0, F.col("tau") * resid).otherwise(
        (F.col("tau") - 1) * resid
    )
    losses = (
        pts.crossJoin(F.broadcast(cand))
        .groupBy("tau", "a", "b")
        .agg(
            F.sum(pinball.cast("decimal(28,7)")).cast("double").alias("loss")
        )
    )
    w = Window.partitionBy("tau").orderBy("loss", "a", "b")
    return (
        losses.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "tau",
            F.col("a").alias("intercept"),
            F.col("b").alias("slope"),
            F.round("loss", 6).alias("pinball_loss"),
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# lasso by coordinate descent on sufficient statistics (unrolled sweeps)
# ---------------------------------------------------------------------------

LASSO_LAMBDA = "5000.0"  # L1 strength on the slope coefficients
LASSO_SWEEPS = 4


def _lasso_exprs() -> list[tuple[str, str]]:
    """Unrolled coordinate-descent sweeps as scalar SQL expressions
    over the sufficient statistics (n, sx1, sx2, sx11, sx12, sx22, sy,
    sx1y, sx2y). Evaluated via F.expr in Spark and verbatim in the
    oracle, so both engines walk identical doubles."""
    lam = f"CAST('{LASSO_LAMBDA}' AS DOUBLE)"
    out = [("b0_0", "sy / n"), ("b1_0", "CAST(0.0 AS DOUBLE)"),
           ("b2_0", "CAST(0.0 AS DOUBLE)")]
    for t in range(1, LASSO_SWEEPS + 1):
        p = t - 1
        rho1 = f"(sx1y - b0_{p} * sx1 - b2_{p} * sx12)"
        out.append((
            f"b1_{t}",
            f"(CASE WHEN {rho1} > {lam} THEN ({rho1} - {lam}) / sx11 "
            f"WHEN {rho1} < -{lam} THEN ({rho1} + {lam}) / sx11 "
            f"ELSE CAST(0.0 AS DOUBLE) END)",
        ))
        rho2 = f"(sx2y - b0_{p} * sx2 - b1_{t} * sx12)"
        out.append((
            f"b2_{t}",
            f"(CASE WHEN {rho2} > {lam} THEN ({rho2} - {lam}) / sx22 "
            f"WHEN {rho2} < -{lam} THEN ({rho2} + {lam}) / sx22 "
            f"ELSE CAST(0.0 AS DOUBLE) END)",
        ))
        out.append((f"b0_{t}", f"(sy - b1_{t} * sx1 - b2_{t} * sx2) / n"))
    return out


def _lasso_oracle() -> str:
    steps = ""
    prev = "s"
    for i, (name, expr) in enumerate(_lasso_exprs()):
        cur = f"l{i}"
        steps += f",\n    {cur} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = cur
    t = LASSO_SWEEPS
    return f"""
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
    ){steps}
    SELECT n, round(b0_{t}, 9) AS beta0, round(b1_{t}, 9) AS beta1,
           round(b2_{t}, 9) AS beta2,
           (b1_{t} = 0.0) AS x1_zeroed, (b2_{t} = 0.0) AS x2_zeroed
    FROM {prev}
    """


@query("ml_lasso_coordinate_descent", oracle=_lasso_oracle(),
       tags=("llm", "ml-train", "iterative"))
def ml_lasso_coordinate_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lasso (L1) regression by coordinate descent, four sweeps
    unrolled — completing the regularization family next to ridge
    (ml_ridge_regression_normal): each coordinate update is the
    soft-threshold S(rho_j, lambda)/z_j, and because the model has
    tiny p, EVERY sweep is closed-form scalar arithmetic over the
    same nine sufficient statistics the ridge solve uses — one corpus
    pass total, zero per-sweep scans (the 'big n, tiny p' shape). The
    zeroed-coefficient flags expose the feature-selection behavior
    that distinguishes L1 from L2. Sweep expressions are generated
    once and run via F.expr + verbatim oracle SQL (the Viterbi
    precedent), so both engines walk identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    x2 = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
    )
    feat = o.select(
        (F.col("o_orderkey") % 7).alias("x1"),
        x2.alias("x2"),
        F.col("o_totalprice").alias("y"),
    )
    s = feat.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("x1") * F.col("y")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sx1y"),
        F.sum((F.col("x2") * F.col("y")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sx2y"),
    )
    cur = s
    for name, expr in _lasso_exprs():
        cur = cur.withColumn(name, F.expr(expr))
    t = LASSO_SWEEPS
    return cur.select(
        "n",
        F.round(F.col(f"b0_{t}"), 9).alias("beta0"),
        F.round(F.col(f"b1_{t}"), 9).alias("beta1"),
        F.round(F.col(f"b2_{t}"), 9).alias("beta2"),
        (F.col(f"b1_{t}") == 0.0).alias("x1_zeroed"),
        (F.col(f"b2_{t}") == 0.0).alias("x2_zeroed"),
    )


@query(
    "ml_slope_one_cf",
    oracle="""
    WITH ratings AS (
        SELECT o.o_custkey AS u, p.p_brand AS item,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS r
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    dev AS (
        SELECT a.item AS i, b.item AS j,
               CAST(count(*) AS BIGINT) AS n_ij,
               CAST(SUM(CAST(round(a.r - b.r, 12) AS DECIMAL(38,12))) AS DOUBLE)
                   AS sdiff
        FROM ratings a JOIN ratings b
          ON a.u = b.u AND a.item <> b.item
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT t.u, t.item AS j, t.r AS actual,
               CAST(SUM(CAST(round((d.sdiff / d.n_ij + s.r) * d.n_ij, 12)
                             AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(SUM(d.n_ij) AS DOUBLE) AS p
        FROM ratings t
        JOIN ratings s ON s.u = t.u AND s.item <> t.item
        JOIN dev d ON d.i = t.item AND d.j = s.item
        GROUP BY 1, 2, 3
    )
    SELECT j AS item,
           CAST(count(*) AS BIGINT) AS n_preds,
           round(sqrt(CAST(SUM(CAST(round((p - actual) * (p - actual), 12)
                                    AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*)), 9) AS rmse_loo
    FROM pred
    GROUP BY j
    ORDER BY item
    """,
    tags=("ml", "recommender"),
)
def ml_slope_one_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One collaborative filtering (Lemire & Maclachlan
    2005) — the deterministic, trivially-distributable rating predictor:
    dev(i,j) = mean over co-rating users of (r_ui − r_uj), and the
    leave-one-out prediction for (u,j) is the support-weighted mean of
    dev(j,i) + r_ui over the user's other items. Fixture: rating =
    a customer's mean order quantity per part BRAND (a bounded 25-item
    space), scored as per-item LOO RMSE — the standard eval for a
    recommender trained and served by the same engine.

    Exactness: ratings are exact integer-sum / count rationals; every
    summed double term rounds at 1e-12 into decimal(38,12); the final
    RMSE sqrt is IEEE-correctly-rounded.

    100 TB: the pair stage is user-keyed (cost Σ|user basket|², with
    the item space bounded — the general-item variant blocks by
    co-rating the way ml_item_cf_cosine does); dev is an item² table
    (≤625 rows); prediction re-streams the ratings against broadcast
    dev. No corpus² anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    ratings = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("o_custkey").alias("u"), F.col("p_brand").alias("item"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("r")
        )
    )
    ratings = pin(ratings)  # self-join + LOO scoring (scan-leaf lint)
    a, b = ratings.alias("a"), ratings.alias("b")
    dev = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.item") != F.col("b.item")))
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ij"),
            F.sum(
                F.round(F.col("a.r") - F.col("b.r"), 12).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("sdiff"),
        )
    )
    t, s = ratings.alias("t"), ratings.alias("s")
    pred = (
        t.join(s, (F.col("s.u") == F.col("t.u")) & (F.col("s.item") != F.col("t.item")))
        .join(
            F.broadcast(dev),
            (F.col("i") == F.col("t.item")) & (F.col("j") == F.col("s.item")),
        )
        .groupBy(F.col("t.u").alias("u"), F.col("t.item").alias("jt"), F.col("t.r").alias("actual"))
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("sdiff") / F.col("n_ij") + F.col("s.r")) * F.col("n_ij"),
                        12,
                    ).cast("decimal(38,12)")
                ).cast("double")
                / F.sum("n_ij").cast("double")
            ).alias("p")
        )
    )
    err2 = F.round((F.col("p") - F.col("actual")) * (F.col("p") - F.col("actual")), 12)
    return (
        pred.groupBy(F.col("jt").alias("item"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_preds"),
            F.round(
                F.sqrt(
                    F.sum(err2.cast("decimal(38,12)")).cast("double") / F.count(F.lit(1))
                ),
                9,
            ).alias("rmse_loo"),
        )
        .orderBy("item")
    )


PCT_BUCKETS = 16  # perceptron feature-hash dimensionality
PCT_EPOCHS = 3


def _pct_sql() -> str:
    """Chained-CTE oracle for the unrolled batch perceptron."""
    head = f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
                   % {PCT_BUCKETS} AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest({{toks}}) AS t FROM documents)
        GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, -1 AS b, 1 AS c FROM documents
    ),
    lab AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
        FROM documents
    ),
    w0 AS (SELECT b, CAST(0 AS BIGINT) AS w
           FROM (SELECT DISTINCT b FROM feats))
    """
    body = ""
    for e in range(1, PCT_EPOCHS + 1):
        body += f""",
    marg{e} AS (
        SELECT f.doc_id, l.y, SUM(f.c * w.w) AS m
        FROM feats f JOIN w{e - 1} w ON f.b = w.b
        JOIN lab l ON f.doc_id = l.doc_id
        GROUP BY 1, 2
    ),
    mis{e} AS (SELECT doc_id, y FROM marg{e} WHERE y * m <= 0),
    upd{e} AS (
        SELECT f.b, SUM(mi.y * f.c) AS d
        FROM mis{e} mi JOIN feats f ON f.doc_id = mi.doc_id
        GROUP BY f.b
    ),
    w{e} AS (
        SELECT w.b, w.w + COALESCE(u.d, 0) AS w
        FROM w{e - 1} w LEFT JOIN upd{e} u ON w.b = u.b
    ),
    stat{e} AS (
        SELECT {e} AS epoch,
               CAST((SELECT count(*) FROM mis{e}) AS BIGINT) AS n_misclassified,
               CAST((SELECT SUM(abs(w)) FROM w{e}) AS BIGINT) AS weight_l1
    )"""
    tail = (
        "\n    SELECT epoch, n_misclassified, weight_l1 FROM ("
        + " UNION ALL ".join(f"SELECT * FROM stat{e}" for e in range(1, PCT_EPOCHS + 1))
        + ") ORDER BY epoch"
    )
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    return (head + body + tail).format(toks=toks)


@query(
    "ml_perceptron_epochs",
    oracle=_pct_sql(),
    tags=("ml", "trainer"),
)
def ml_perceptron_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch perceptron (Rosenblatt's rule, full-batch variant), 3
    unrolled epochs over hashed token-count features — the INTEGER
    trainer of the family: weights, counts, margins, and updates are
    all exact int64 arithmetic, so unlike logreg/SVM there is no
    rounding discipline at all; the oracle replays the identical
    training walk as chained CTEs. Label: lang='en' vs rest; features:
    md5-hashed token counts in 16 buckets + bias.

    Per epoch: margin = one broadcast join of the (doc, bucket, count)
    stream against the 17-row weight table + doc-keyed agg;
    misclassified docs re-aggregate to a bucket-keyed update. Two
    shuffles per epoch, both map-side combined; weights
    are pinned between epochs to keep plan depth constant. The
    md5 bucket hash is the one DuckDB replays bit-for-bit (as in
    dsir_bucket_expr)."""
    from supabase_etl_spark.operators.text import tokens as _toks

    d = load_table(spark, sf_dir, "documents")
    feats = pin(
        d.select(
            "doc_id",
            F.explode(_toks(F.col("text"))).alias("t"),
        )
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("bigint")
                % PCT_BUCKETS
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .unionByName(
            d.select(
                "doc_id",
                F.lit(-1).cast("bigint").alias("b"),
                F.lit(1).cast("bigint").alias("c"),
            )
        ),
        eager=True,
    )
    lab = pin(d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(-1).cast("bigint").alias("y"),
    ))  # joined every epoch (scan-leaf lint)
    w = feats.select("b").distinct().select("b", F.lit(0).cast("bigint").alias("w"))
    stats = []
    for e in range(1, PCT_EPOCHS + 1):
        marg = (
            feats.join(F.broadcast(w), "b")
            .join(lab, "doc_id")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("c") * F.col("w")).alias("m"))
        )
        mis = marg.filter(F.col("y") * F.col("m") <= 0).select("doc_id", "y")
        upd = (
            mis.join(feats, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("y") * F.col("c")).alias("d"))
        )
        w = pin(
            w.join(upd, "b", "left")
            .select("b", (F.col("w") + F.coalesce("d", F.lit(0))).alias("w")),
            eager=True,
        )
        n_mis = mis.agg(F.count(F.lit(1)).cast("bigint").alias("n_misclassified"))
        l1 = w.agg(F.sum(F.abs("w")).cast("bigint").alias("weight_l1"))
        stats.append(
            n_mis.crossJoin(l1).select(
                F.lit(e).alias("epoch"), "n_misclassified", "weight_l1"
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("epoch")


HUBER_DELTA = 40.0  # Huber loss elbow, in quantity units
HUBER_ROUNDS = 2  # unrolled IRLS iterations after the OLS init


def _huber_sql() -> str:
    """Chained-CTE oracle for unrolled Huber IRLS: OLS init, then each
    round reweights rows by w = min(1, delta/|residual|) and re-solves
    the 1-feature weighted least squares in closed form."""
    head = """
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y
        FROM lineitem WHERE l_orderkey <= 4000
    ),
    fit0 AS (
        SELECT (count(*) * CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE)
                - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                  * CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE))
               / (count(*) * CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                  - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                    * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)) AS b,
               (CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
                - (count(*) * CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                     * CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE))
                  / (count(*) * CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                     - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE))
                  * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)) / count(*) AS a
        FROM pts
    )"""
    body = ""
    for r in range(1, HUBER_ROUNDS + 1):
        body += f""",
    wts{r} AS (
        SELECT x, y,
               least(1.0, {HUBER_DELTA!r}
                     / greatest(abs(y - (SELECT a FROM fit{r - 1})
                                    - (SELECT b FROM fit{r - 1}) * x), 1e-12))
                   AS w
        FROM pts
    ),
    m{r} AS (
        SELECT CAST(SUM(CAST(round(w, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS swx,
               CAST(SUM(CAST(round(w * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS swy,
               CAST(SUM(CAST(round(w * x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS swxx,
               CAST(SUM(CAST(round(w * x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS swxy
        FROM wts{r}
    ),
    fit{r} AS (
        SELECT (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b,
               (swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx)
                   / sw AS a
        FROM m{r}
    )"""
    tail = (
        "\n    SELECT * FROM ("
        + " UNION ALL ".join(
            f"SELECT {r} AS round, round(a, 9) AS intercept, round(b, 9) AS slope "
            f"FROM fit{r}"
            for r in range(0, HUBER_ROUNDS + 1)
        )
        + ") ORDER BY round"
    )
    return head + body + tail


@query(
    "ml_huber_irls",
    oracle=_huber_sql(),
    tags=("ml", "trainer", "robust"),
)
def ml_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust regression by IRLS (Huber 1964; the M-estimator
    production pipelines fit when OLS chases outliers): OLS init, then
    {HUBER_ROUNDS} unrolled reweighting rounds with w =
    min(1, δ/|residual|) and a closed-form weighted solve — the robust
    member of the trainer family (ridge/lasso/quantile cover L2/L1/
    pinball; this is the bounded-influence loss). Emits the
    (intercept, slope) trajectory per round so the oracle pins the
    entire walk, not just the fixed point.

    Exactness: each round's five weighted moments round at their true
    scales (w at 1e-12, x/y products at 1e-6) into decimal sums; the
    residual floor (1e-12) avoids division blowups identically in both
    engines. One corpus pass per round, pin-truncated —
    the ml_logreg_gd loop discipline."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 4000)
    pts = pin(li.select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice").cast("double") / 1000.0).alias("y"),
    ), eager=True)
    x, y = F.col("x"), F.col("y")
    m0 = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum(F.round(x * x, 6).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum(F.round(x * y, 6).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    b0 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = pin(m0.select(b0.alias("b"), ((F.col("sy") - b0 * F.col("sx")) / F.col("n")).alias("a")), eager=True)
    outs = [fit.select(F.lit(0).alias("round"), F.round("a", 9).alias("intercept"), F.round("b", 9).alias("slope"))]
    for r in range(1, HUBER_ROUNDS + 1):
        wcol = F.least(
            F.lit(1.0),
            F.lit(HUBER_DELTA)
            / F.greatest(F.abs(y - F.col("a") - F.col("b") * x), F.lit(1e-12)),
        )
        wts = pts.crossJoin(F.broadcast(fit)).select("x", "y", wcol.alias("w"))
        m = wts.agg(
            F.sum(F.round("w", 12).cast("decimal(38,12)")).cast("double").alias("sw"),
            F.sum(F.round(F.col("w") * x, 6).cast("decimal(38,6)")).cast("double").alias("swx"),
            F.sum(F.round(F.col("w") * y, 6).cast("decimal(38,6)")).cast("double").alias("swy"),
            F.sum(F.round(F.col("w") * x * x, 6).cast("decimal(38,6)")).cast("double").alias("swxx"),
            F.sum(F.round(F.col("w") * x * y, 6).cast("decimal(38,6)")).cast("double").alias("swxy"),
        )
        bb = (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")) / (
            F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        )
        fit = pin(m.select(
            bb.alias("b"),
            ((F.col("swy") - bb * F.col("swx")) / F.col("sw")).alias("a"),
        ), eager=True)
        outs.append(
            fit.select(
                F.lit(r).alias("round"),
                F.round("a", 9).alias("intercept"),
                F.round("b", 9).alias("slope"),
            )
        )
    out = outs[0]
    for s in outs[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


def _carto_sql() -> str:
    """Cartography oracle: the perceptron epoch chain, keeping each
    epoch's margin per doc; confidence/variability from the 3-epoch
    squashed-probability trajectory."""
    head = f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
                   % {PCT_BUCKETS} AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(list_filter(
                  regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
              FROM documents)
        GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, -1 AS b, 1 AS c FROM documents
    ),
    lab AS (
        SELECT doc_id, source,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
        FROM documents
    ),
    w0 AS (SELECT b, CAST(0 AS BIGINT) AS w
           FROM (SELECT DISTINCT b FROM feats))
    """
    body = ""
    for e in range(1, PCT_EPOCHS + 1):
        body += f""",
    marg{e} AS (
        SELECT f.doc_id, l.y, SUM(f.c * w.w) AS m
        FROM feats f JOIN w{e - 1} w ON f.b = w.b
        JOIN lab l ON f.doc_id = l.doc_id
        GROUP BY 1, 2
    ),
    mis{e} AS (SELECT doc_id, y FROM marg{e} WHERE y * m <= 0),
    upd{e} AS (
        SELECT f.b, SUM(mi.y * f.c) AS d
        FROM mis{e} mi JOIN feats f ON f.doc_id = mi.doc_id
        GROUP BY f.b
    ),
    w{e} AS (
        SELECT w.b, w.w + COALESCE(u.d, 0) AS w
        FROM w{e - 1} w LEFT JOIN upd{e} u ON w.b = u.b
    )"""
    probs = " UNION ALL ".join(
        f"SELECT doc_id, 0.5 + 0.5 * (y * m) / (1 + abs(y * m)) AS p "
        f"FROM marg{e}"
        for e in range(1, PCT_EPOCHS + 1)
    )
    tail = f""",
    probs AS ({probs}),
    carto AS (
        SELECT doc_id,
               round(CAST(SUM(CAST(round(p, 12) AS DECIMAL(38,12))) AS DOUBLE)
                     / {PCT_EPOCHS}, 9) AS conf,
               round(sqrt(greatest(
                   CAST(SUM(CAST(round(p * p, 12) AS DECIMAL(38,12))) AS DOUBLE)
                       / {PCT_EPOCHS}
                   - POWER(CAST(SUM(CAST(round(p, 12) AS DECIMAL(38,12))) AS DOUBLE)
                           / {PCT_EPOCHS}, 2), 0.0)), 9) AS var_
        FROM probs GROUP BY doc_id
    )
    SELECT l.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN conf > 0.7 AND var_ < 0.15 THEN 1 ELSE 0 END)
                AS BIGINT) AS easy_to_learn,
           CAST(SUM(CASE WHEN conf < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS hard_to_learn,
           CAST(SUM(CASE WHEN conf >= 0.3 AND NOT (conf > 0.7 AND var_ < 0.15)
                         THEN 1 ELSE 0 END) AS BIGINT) AS ambiguous,
           round(CAST(SUM(CAST(conf AS DECIMAL(38,9))) AS DOUBLE) / count(*), 9)
               AS mean_confidence
    FROM carto c JOIN lab l ON c.doc_id = l.doc_id
    GROUP BY l.source
    ORDER BY l.source"""
    return head + body + tail


@query(
    "sample_dataset_cartography",
    oracle=_carto_sql(),
    tags=("llm", "sampling", "ml"),
)
def sample_dataset_cartography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset cartography (Swayamdipta et al., EMNLP 2020): map every
    training example by its CONFIDENCE (mean model probability of the
    gold label across training epochs) and VARIABILITY (std of that
    probability) — easy-to-learn / ambiguous / hard-to-learn regions
    drive curation (hard = likely mislabeled; ambiguous = most useful).
    The training walk is the registry's integer batch perceptron;
    per-epoch probabilities use the rational squash
    p = ½ + ½·ym/(1+|ym|) (no transcendentals), so the whole map is
    exact arithmetic on integers. Reported per source.

    Scale: identical per-epoch cost to ml_perceptron_epochs (two
    map-side-combined shuffles per epoch); the map adds one doc-keyed
    agg over the 3-epoch probability stream."""
    from supabase_etl_spark.operators.text import tokens as _toks

    d = load_table(spark, sf_dir, "documents")
    feats = pin(
        d.select("doc_id", F.explode(_toks(F.col("text"))).alias("t"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("bigint")
                % PCT_BUCKETS
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .unionByName(
            d.select(
                "doc_id",
                F.lit(-1).cast("bigint").alias("b"),
                F.lit(1).cast("bigint").alias("c"),
            )
        ),
        eager=True,
    )
    lab = pin(d.select(
        "doc_id",
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(-1).cast("bigint").alias("y"),
    ))  # joined every epoch + final rollup (scan-leaf lint)
    w = feats.select("b").distinct().select("b", F.lit(0).cast("bigint").alias("w"))
    probs = []
    for _e in range(1, PCT_EPOCHS + 1):
        marg = (
            feats.join(F.broadcast(w), "b")
            .join(lab.select("doc_id", "y"), "doc_id")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("c") * F.col("w")).alias("m"))
        )
        ym = (F.col("y") * F.col("m")).cast("double")
        probs.append(
            marg.select(
                "doc_id", (F.lit(0.5) + F.lit(0.5) * ym / (1 + F.abs(ym))).alias("p")
            )
        )
        mis = marg.filter(F.col("y") * F.col("m") <= 0).select("doc_id", "y")
        upd = (
            mis.join(feats, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("y") * F.col("c")).alias("d"))
        )
        w = pin(
            w.join(upd, "b", "left")
            .select("b", (F.col("w") + F.coalesce("d", F.lit(0))).alias("w")),
            eager=True,
        )
    allp = probs[0]
    for s in probs[1:]:
        allp = allp.unionByName(s)
    sp = F.sum(F.round("p", 12).cast("decimal(38,12)")).cast("double")
    sp2 = F.sum(F.round(F.col("p") * F.col("p"), 12).cast("decimal(38,12)")).cast("double")
    carto = allp.groupBy("doc_id").agg(
        F.round(sp / PCT_EPOCHS, 9).alias("conf"),
        F.round(
            F.sqrt(
                F.greatest(
                    sp2 / PCT_EPOCHS - F.pow(sp / PCT_EPOCHS, 2), F.lit(0.0)
                )
            ),
            9,
        ).alias("var_"),
    )
    easy = (F.col("conf") > 0.7) & (F.col("var_") < 0.15)
    hard = F.col("conf") < 0.3
    return (
        carto.join(lab.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(easy.cast("int")).cast("bigint").alias("easy_to_learn"),
            F.sum(hard.cast("int")).cast("bigint").alias("hard_to_learn"),
            F.sum((~easy & ~hard).cast("int")).cast("bigint").alias("ambiguous"),
            F.round(
                F.sum(F.col("conf").cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_confidence"),
        )
        .orderBy("source")
    )


ALS_LAMBDA = 0.1  # ridge regularizer for both half-steps


@query(
    "ml_als_rank1",
    oracle=f"""
    WITH r AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS rating
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    ustep AS (
        SELECT u,
               round(CAST(SUM(CAST(rating AS DECIMAL(38,0))) AS DOUBLE)
                     / ({ALS_LAMBDA!r} + count(*)), 9) AS uf
        FROM r GROUP BY u
    ),
    istep AS (
        SELECT r.i,
               round(CAST(SUM(CAST(round(r.rating * us.uf, 9) AS DECIMAL(38,9))) AS DOUBLE)
                     / ({ALS_LAMBDA!r}
                        + CAST(SUM(CAST(round(us.uf * us.uf, 9) AS DECIMAL(38,9))) AS DOUBLE)),
                     9) AS vf,
               CAST(count(*) AS BIGINT) AS n_raters
        FROM r JOIN ustep us ON r.u = us.u
        GROUP BY r.i
    )
    SELECT i AS partkey, n_raters, vf AS item_factor
    FROM istep
    ORDER BY vf DESC, i
    LIMIT 10
    """,
    tags=("ml", "recommender"),
)
def ml_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full alternation of rank-1 ALS (Koren/Hu-Koren lineage;
    spark.ml's ALS with rank=1, one sweep) on the implicit
    (customer, part, quantity) matrix: with items initialized at
    v=1, the user half-step has the closed form u = Σr / (λ + n_items),
    and the item half-step v = Σ r·u / (λ + Σ u²). Top-10 items by the
    learned factor — the popularity-adjusted item strength.

    Exactness: ratings are integer sums; u is rounded to 9 dp, so the
    r·u and u² products are exact 9/18-dp decimals and both engines'
    parallel sums agree bit-for-bit. 100 TB: two key-partitioned
    aggregates and one user-keyed equi-join (the standard distributed
    ALS shuffle shape — by-user then by-item); the final top-10 is
    TakeOrdered, never a global sort. Rank-k generalizes by making u a
    k-vector and the denominator a k×k normal-equation solve per key —
    same shuffle plan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("rating"))
    )
    r = pin(r)  # user + item steps (scan-leaf lint)
    ustep = r.groupBy("u").agg(
        F.round(
            F.sum(F.col("rating").cast("decimal(38,0)")).cast("double")
            / (F.lit(ALS_LAMBDA) + F.count(F.lit(1))),
            9,
        ).alias("uf")
    )
    istep = (
        r.join(ustep, "u")
        .groupBy("i")
        .agg(
            F.round(
                F.sum(F.round(F.col("rating") * F.col("uf"), 9).cast("decimal(38,9)")).cast(
                    "double"
                )
                / (
                    F.lit(ALS_LAMBDA)
                    + F.sum(
                        F.round(F.col("uf") * F.col("uf"), 9).cast("decimal(38,9)")
                    ).cast("double")
                ),
                9,
            ).alias("vf"),
            F.count(F.lit(1)).cast("bigint").alias("n_raters"),
        )
    )
    return (
        istep.select(F.col("i").alias("partkey"), "n_raters", F.col("vf").alias("item_factor"))
        .orderBy(F.desc("item_factor"), "partkey")
        .limit(10)
    )


@query(
    "ml_gmm_em_step",
    oracle="""
    WITH stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(value * value, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM events
    ),
    init AS (
        SELECT n,
               s1 / n AS mu,
               sqrt((s2 - s1 * s1 / n) / n) AS sd
        FROM stats
    ),
    resp AS (
        SELECT e.value AS x, i.n,
               round(
                 GREATEST(round(exp(-((e.value - (i.mu - i.sd / 2.0)) / i.sd)
                           * ((e.value - (i.mu - i.sd / 2.0)) / i.sd) / 2.0), 12), 1e-12)
                 / (GREATEST(round(exp(-((e.value - (i.mu - i.sd / 2.0)) / i.sd)
                            * ((e.value - (i.mu - i.sd / 2.0)) / i.sd) / 2.0), 12), 1e-12)
                    + GREATEST(round(exp(-((e.value - (i.mu + i.sd / 2.0)) / i.sd)
                             * ((e.value - (i.mu + i.sd / 2.0)) / i.sd) / 2.0), 12), 1e-12)),
                 9) AS r
        FROM events e CROSS JOIN init i
    ),
    mstep AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(r AS DECIMAL(38,9))) AS DOUBLE) AS sr,
               CAST(SUM(CAST(round(r * x, 7) AS DECIMAL(38,7))) AS DOUBLE) AS srx,
               CAST(SUM(CAST(round(r * x * x, 7) AS DECIMAL(38,7))) AS DOUBLE) AS srx2,
               CAST(SUM(CAST(round((1.0 - r) * x, 7) AS DECIMAL(38,7))) AS DOUBLE) AS sqx,
               CAST(SUM(CAST(round((1.0 - r) * x * x, 7) AS DECIMAL(38,7))) AS DOUBLE) AS sqx2
        FROM resp
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(sr / n, 9) AS w1_new,
           round(srx / sr, 9) AS mu1_new,
           round(sqx / (n - sr), 9) AS mu2_new,
           round(srx2 / sr - (srx / sr) * (srx / sr), 6) AS var1_new,
           round(sqx2 / (n - sr) - (sqx / (n - sr)) * (sqx / (n - sr)), 6) AS var2_new
    FROM mstep
    """,
    tags=("ml", "train"),
)
def ml_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full EM step of a two-component 1-D Gaussian mixture
    (Dempster 1977) on event values, from the deterministic moment
    init mu ± sd/2 with shared sd and equal weights: E-step
    responsibilities r_i = e1/(e1+e2) (equal weights and shared sigma
    cancel), M-step reweighted means/variances and the new mixing
    weight. The mixture-model gap in the trainer family (NB, logreg,
    stumps, SVM, lasso are all discriminative or count-based).

    Exactness discipline: the per-row exp kernels are rounded at 12 dp
    BEFORE the ratio (the events_kde_density precedent for libm-exp
    cross-engine safety), responsibilities at 9 dp, and every M-step
    sum runs through exact decimals of bounded-scale products. 100 TB:
    E+M is ONE map-side-combined aggregate per EM iteration — the
    canonical distributed-EM shape (sufficient statistics per
    partition, combine at the driver-free reduce); k components and d
    dims widen the row, not the plan."""
    e = load_table(spark, sf_dir, "events")
    stats = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("value").cast("decimal(28,2)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("value") * F.col("value"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("s2"),
    )
    init = stats.select(
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")).alias(
            "sd"
        ),
    )
    x = F.col("value")
    z1 = (x - (F.col("mu") - F.col("sd") / 2.0)) / F.col("sd")
    z2 = (x - (F.col("mu") + F.col("sd") / 2.0)) / F.col("sd")
    # 1e-12 underflow clamp: far-tail rows round both kernels to zero at
    # 12 dp; the clamp keeps r defined (and identical) in both engines
    e1 = F.greatest(F.round(F.exp(-z1 * z1 / 2.0), 12), F.lit(1e-12))
    e2 = F.greatest(F.round(F.exp(-z2 * z2 / 2.0), 12), F.lit(1e-12))
    resp = e.crossJoin(F.broadcast(init)).select(
        x.alias("x"), F.col("n"), F.round(e1 / (e1 + e2), 9).alias("r")
    )
    r, xx = F.col("r"), F.col("x")
    mstep = resp.agg(
        F.max("n").alias("n"),
        F.sum(r.cast("decimal(38,9)")).cast("double").alias("sr"),
        F.sum(F.round(r * xx, 7).cast("decimal(38,7)")).cast("double").alias("srx"),
        F.sum(F.round(r * xx * xx, 7).cast("decimal(38,7)")).cast("double").alias("srx2"),
        F.sum(F.round((1.0 - r) * xx, 7).cast("decimal(38,7)")).cast("double").alias("sqx"),
        F.sum(F.round((1.0 - r) * xx * xx, 7).cast("decimal(38,7)"))
        .cast("double")
        .alias("sqx2"),
    )
    n, sr, srx, srx2, sqx, sqx2 = (
        F.col(c) for c in ("n", "sr", "srx", "srx2", "sqx", "sqx2")
    )
    return mstep.select(
        n.cast("bigint").alias("n_obs"),
        F.round(sr / n, 9).alias("w1_new"),
        F.round(srx / sr, 9).alias("mu1_new"),
        F.round(sqx / (n - sr), 9).alias("mu2_new"),
        F.round(srx2 / sr - (srx / sr) * (srx / sr), 6).alias("var1_new"),
        F.round(sqx2 / (n - sr) - (sqx / (n - sr)) * (sqx / (n - sr)), 6).alias("var2_new"),
    )


# ---------------------------------------------------------------------------
# logistic regression by IRLS (2 Newton steps, rational squash)
# ---------------------------------------------------------------------------

IRLS_STEPS = 2
_IRLS_FEAT = """
        SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
"""


def _irls_sql_step(i: int) -> str:
    """One Newton step over the (x, y, n) grid given beta{i-1}(b0, b1):
    squash p and its derivative w per grid row, five decimal-summed
    moments, Cramer 2x2 solve, new beta."""
    p = i - 1
    return f"""
    terms{i} AS (
        SELECT g.x, g.y, g.n,
               0.5 + 0.5 * (b.b0 + b.b1 * g.x)
                         / (1.0 + ABS(b.b0 + b.b1 * g.x)) AS prob,
               0.5 / ((1.0 + ABS(b.b0 + b.b1 * g.x))
                      * (1.0 + ABS(b.b0 + b.b1 * g.x))) AS wgt
        FROM grid g CROSS JOIN beta{p} b
    ),
    mom{i} AS (
        SELECT
            CAST(SUM(CAST(round(n * wgt, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sw,
            CAST(SUM(CAST(round(n * wgt * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS swx,
            CAST(SUM(CAST(round(n * wgt * x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS swxx,
            CAST(SUM(CAST(round(n * (y - prob), 12) AS DECIMAL(38,12))) AS DOUBLE) AS g0,
            CAST(SUM(CAST(round(n * (y - prob) * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS g1
        FROM terms{i}
    ),
    beta{i} AS (
        SELECT b.b0 + (m.swxx * m.g0 - m.swx * m.g1)
                      / (m.sw * m.swxx - m.swx * m.swx) AS b0,
               b.b1 + (m.sw * m.g1 - m.swx * m.g0)
                      / (m.sw * m.swxx - m.swx * m.swx) AS b1
        FROM mom{i} m CROSS JOIN beta{p} b
    ),
    loss{i} AS (
        SELECT CAST(SUM(CAST(round(
                   -g.n * (g.y * ln(0.5 + 0.5 * (b.b0 + b.b1 * g.x)
                                          / (1.0 + ABS(b.b0 + b.b1 * g.x)))
                     + (1 - g.y) * ln(1.0 - (0.5 + 0.5 * (b.b0 + b.b1 * g.x)
                                             / (1.0 + ABS(b.b0 + b.b1 * g.x))))),
                   9) AS DECIMAL(38,12))) AS DOUBLE) AS nll
        FROM grid g CROSS JOIN beta{i} b
    )"""


_IRLS_ORACLE = (
    f"""WITH grid AS ({_IRLS_FEAT}),
    beta0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1),"""
    + ",".join(_irls_sql_step(i) for i in range(1, IRLS_STEPS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS step, round(b.b0, 9) AS b0, round(b.b1, 9) AS b1,"
        f" round(l.nll, 6) AS log_loss FROM beta{i} b, loss{i} l"
        for i in range(1, IRLS_STEPS + 1)
    )
    + "\n    ORDER BY step"
)


@query("ml_logistic_irls", oracle=_IRLS_ORACLE, tags=("llm", "ml-train", "iterative"))
def ml_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression by IRLS / Newton-Raphson (two unrolled
    steps) — the second-order companion to ml_logreg_gd's first-order
    epochs: each step solves the 2×2 weighted normal equations
    (X'WX)δ = X'(y−p) in closed form (Cramer), with W the link
    derivative. The rational squash p = 0.5 + 0.5·z/(1+|z|) replaces
    sigmoid so no transcendental enters the update (its derivative
    0.5/(1+|z|)² is W); the NLL report uses round-9 ln terms through
    decimal sums, the registry's standard pattern.

    Scale shape: the corpus collapses ONCE into a (x, y, count) grid
    (one map-side-combined agg; the grid is bounded by the feature
    alphabet), and every Newton step is grid-sized arithmetic — five
    decimal moments + a broadcast 1-row beta frame. 100 TB costs one
    corpus pass, full stop; steps are free. Xu et al.'s distributed
    IRLS is exactly this sufficient-statistics collapse."""
    o = load_table(spark, sf_dir, "orders")
    grid = pin(  # grid-sized; consumed by every step
        o.select(
            (F.year("o_orderdate") - 1995).cast("bigint").alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        eager=True,
    )
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )

    def dec12(c):
        return F.sum(F.round(c, 12).cast("decimal(38,12)")).cast("double")

    out = None
    for step in range(1, IRLS_STEPS + 1):
        t = grid.crossJoin(F.broadcast(beta))
        z = F.col("b0") + F.col("b1") * F.col("x")
        prob = 0.5 + 0.5 * z / (1.0 + F.abs(z))
        wgt = 0.5 / ((1.0 + F.abs(z)) * (1.0 + F.abs(z)))
        mom = t.agg(
            dec12(F.col("n") * wgt).alias("sw"),
            dec12(F.col("n") * wgt * F.col("x")).alias("swx"),
            dec12(F.col("n") * wgt * F.col("x") * F.col("x")).alias("swxx"),
            dec12(F.col("n") * (F.col("y") - prob)).alias("g0"),
            dec12(F.col("n") * (F.col("y") - prob) * F.col("x")).alias("g1"),
        )
        det = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        beta = (
            mom.crossJoin(F.broadcast(beta.select(F.col("b0").alias("pb0"), F.col("b1").alias("pb1"))))
            .select(
                (F.col("pb0") + (F.col("swxx") * F.col("g0") - F.col("swx") * F.col("g1")) / det).alias("b0"),
                (F.col("pb1") + (F.col("sw") * F.col("g1") - F.col("swx") * F.col("g0")) / det).alias("b1"),
            )
        )
        t2 = grid.crossJoin(F.broadcast(beta))
        z2 = F.col("b0") + F.col("b1") * F.col("x")
        p2 = 0.5 + 0.5 * z2 / (1.0 + F.abs(z2))
        nll = t2.agg(
            F.sum(
                F.round(
                    -F.col("n")
                    * (
                        F.col("y") * F.log(p2)
                        + (1 - F.col("y")) * F.log(1.0 - p2)
                    ),
                    9,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("nll")
        )
        row = beta.crossJoin(F.broadcast(nll)).select(
            F.lit(step).alias("step"),
            F.round("b0", 9).alias("b0"),
            F.round("b1", 9).alias("b1"),
            F.round("nll", 6).alias("log_loss"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# AdaBoost with decision stumps (2 rounds, exponential reweighting)
# ---------------------------------------------------------------------------

ADA_ROUNDS = 2
_ADA_FEAT = """
        SELECT CAST(year(o_orderdate) - 1992 AS BIGINT) AS x1,
               CAST(o_orderkey % 5 AS BIGINT) AS x2,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS y,
               CAST(count(*) AS DOUBLE) AS dw
        FROM orders GROUP BY 1, 2, 3
"""


def _ada_sql_round(i: int) -> str:
    """One AdaBoost round over the weighted grid d{i-1}(x1, x2, y, dw):
    per-(feature, bin) class masses, cumulative cut scan with both
    polarities, argmin weighted error, alpha, exponential reweight."""
    p = i - 1
    return f"""
    stats{i} AS (
        SELECT f, b,
               CAST(SUM(CASE WHEN y = 1
                             THEN CAST(round(dw, 12) AS DECIMAL(38,12))
                             ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS pos_m,
               CAST(SUM(CASE WHEN y = -1
                             THEN CAST(round(dw, 12) AS DECIMAL(38,12))
                             ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS neg_m
        FROM (
            SELECT 1 AS f, x1 AS b, y, dw FROM d{p}
            UNION ALL
            SELECT 2 AS f, x2 AS b, y, dw FROM d{p}
        ) GROUP BY f, b
    ),
    cum{i} AS (
        SELECT f, b,
               SUM(pos_m) OVER (PARTITION BY f ORDER BY b
                                ROWS UNBOUNDED PRECEDING) AS pos_le,
               SUM(neg_m) OVER (PARTITION BY f ORDER BY b
                                ROWS UNBOUNDED PRECEDING) AS neg_le,
               SUM(pos_m) OVER (PARTITION BY f) AS pos_t,
               SUM(neg_m) OVER (PARTITION BY f) AS neg_t,
               MAX(b) OVER (PARTITION BY f) AS bmax
        FROM stats{i}
    ),
    cand{i} AS (
        SELECT f, b, pol,
               CASE WHEN pol = 1
                    THEN (neg_le + (pos_t - pos_le)) / (pos_t + neg_t)
                    ELSE (pos_le + (neg_t - neg_le)) / (pos_t + neg_t)
               END AS err
        FROM cum{i} CROSS JOIN (SELECT 1 AS pol UNION ALL SELECT -1) pols
        WHERE b < bmax
    ),
    best{i} AS (
        SELECT f AS feature, b AS split_bin, pol AS polarity, err,
               0.5 * ln((1.0 - err) / err) AS alpha
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY round(err, 9) ASC,
                                         f ASC, b ASC, pol ASC) AS rk
            FROM cand{i}
        ) WHERE rk = 1
    ),
    d{i} AS (
        SELECT g.x1, g.x2, g.y,
               round(g.dw * exp(-s.alpha * g.y *
                   (CASE WHEN s.feature = 1
                         THEN CASE WHEN g.x1 <= s.split_bin
                                   THEN s.polarity ELSE -s.polarity END
                         ELSE CASE WHEN g.x2 <= s.split_bin
                                   THEN s.polarity ELSE -s.polarity END
                    END)), 12) AS dw
        FROM d{p} g CROSS JOIN best{i} s
    )"""


def _ada_h(i: int) -> str:
    """SQL for round-i stump's ±1 prediction on grid row g."""
    return (
        f"(CASE WHEN s{i}.feature = 1 "
        f"THEN CASE WHEN g.x1 <= s{i}.split_bin THEN s{i}.polarity ELSE -s{i}.polarity END "
        f"ELSE CASE WHEN g.x2 <= s{i}.split_bin THEN s{i}.polarity ELSE -s{i}.polarity END END)"
    )


_ADA_ORACLE = (
    f"""WITH d0 AS ({_ADA_FEAT}),"""
    + ",".join(_ada_sql_round(i) for i in range(1, ADA_ROUNDS + 1))
    + f""",
    ens AS (
        SELECT CAST(SUM(CASE WHEN (CASE WHEN s1.alpha * {_ada_h(1)}
                                        + s2.alpha * {_ada_h(2)} > 0
                                   THEN 1 ELSE -1 END) <> g.y
                        THEN CAST(g.dw AS BIGINT) ELSE 0 END) AS BIGINT) AS n_err,
               CAST(SUM(CAST(g.dw AS BIGINT)) AS BIGINT) AS n
        FROM d0 g CROSS JOIN best1 s1 CROSS JOIN best2 s2
    )
    """
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS round, b.feature, b.split_bin, b.polarity,"
        f" round(b.err, 9) AS err, round(b.alpha, 9) AS alpha,"
        f" round(CAST(e.n_err AS DOUBLE) / e.n, 9) AS ensemble_train_err"
        f" FROM best{i} b, ens e"
        for i in range(1, ADA_ROUNDS + 1)
    )
    + "\n    ORDER BY round"
)


@query("ml_adaboost_stumps", oracle=_ADA_ORACLE, tags=("llm", "ml-train", "iterative"))
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaBoost.M1 with depth-1 stumps, two unrolled rounds (Freund &
    Schapire 1997) — the EXPONENTIAL-reweighting member of the boosting
    family next to ml_gb_stumps' squared-loss residuals: per round the
    best (feature, cut, polarity) stump minimizes the weighted error
    over the cut table, α = ½ln((1−ε)/ε), and every grid row's weight
    multiplies by exp(−α·y·h(x)).

    Scale shape: the corpus collapses ONCE into a (x1, x2, y, count)
    grid; each round's error scan is two cumulative windows over the
    per-feature BIN table (≤ feature-alphabet rows, never the corpus)
    with both polarities evaluated from the same cumulative masses; the
    chosen stump re-enters as a broadcast 1-row frame. Weights stay on
    the grid (round-12 before every decimal sum), so round cost is
    grid-sized — the distributed-AdaBoost sufficient-statistics shape.
    Ensemble training error is exact integer counting on the original
    counts."""
    o = load_table(spark, sf_dir, "orders")
    d = pin(  # grid-sized; every round re-reads it
        o.select(
            (F.year("o_orderdate") - 1992).cast("bigint").alias("x1"),
            (F.col("o_orderkey") % 5).cast("bigint").alias("x2"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(-1).alias("y"),
        )
        .groupBy("x1", "x2", "y")
        .agg(F.count(F.lit(1)).cast("double").alias("dw")),
        eager=True,
    )
    grid0 = d
    dec12pos = lambda y_val: F.sum(
        F.when(
            F.col("y") == y_val, F.round(F.col("dw"), 12).cast("decimal(38,12)")
        ).otherwise(F.lit(0).cast("decimal(38,12)"))
    ).cast("double")
    bests = []
    cur = d
    for rnd in range(1, ADA_ROUNDS + 1):
        stacked = cur.select(F.lit(1).alias("f"), F.col("x1").alias("b"), "y", "dw").unionAll(
            cur.select(F.lit(2).alias("f"), F.col("x2").alias("b"), "y", "dw")
        )
        stats = stacked.groupBy("f", "b").agg(
            dec12pos(1).alias("pos_m"), dec12pos(-1).alias("neg_m")
        )
        wcum = Window.partitionBy("f").orderBy("b").rowsBetween(
            Window.unboundedPreceding, 0
        )
        wall = Window.partitionBy("f")
        cum = stats.select(
            "f",
            "b",
            F.sum("pos_m").over(wcum).alias("pos_le"),
            F.sum("neg_m").over(wcum).alias("neg_le"),
            F.sum("pos_m").over(wall).alias("pos_t"),
            F.sum("neg_m").over(wall).alias("neg_t"),
            F.max("b").over(wall).alias("bmax"),
        )
        pols = spark.range(1).select(F.lit(1).alias("pol")).unionAll(
            spark.range(1).select(F.lit(-1).alias("pol"))
        )
        err = F.when(
            F.col("pol") == 1,
            (F.col("neg_le") + (F.col("pos_t") - F.col("pos_le")))
            / (F.col("pos_t") + F.col("neg_t")),
        ).otherwise(
            (F.col("pos_le") + (F.col("neg_t") - F.col("neg_le")))
            / (F.col("pos_t") + F.col("neg_t"))
        )
        cand = (
            cum.filter(F.col("b") < F.col("bmax"))
            .crossJoin(F.broadcast(pols))
            .select("f", "b", "pol", err.alias("err"))
        )
        wrk = Window.orderBy(
            F.round(F.col("err"), 9).asc(),
            F.col("f").asc(),
            F.col("b").asc(),
            F.col("pol").asc(),
        )
        best = (
            cand.withColumn("rk", F.row_number().over(wrk))
            .filter(F.col("rk") == 1)
            .select(
                F.col("f").alias("feature"),
                F.col("b").alias("split_bin"),
                F.col("pol").alias("polarity"),
                "err",
                (0.5 * F.log((1.0 - F.col("err")) / F.col("err"))).alias("alpha"),
            )
        )
        bests.append(best)
        h = F.when(
            F.col("feature") == 1,
            F.when(F.col("x1") <= F.col("split_bin"), F.col("polarity")).otherwise(
                -F.col("polarity")
            ),
        ).otherwise(
            F.when(F.col("x2") <= F.col("split_bin"), F.col("polarity")).otherwise(
                -F.col("polarity")
            )
        )
        cur = cur.crossJoin(F.broadcast(best)).select(
            "x1",
            "x2",
            "y",
            F.round(F.col("dw") * F.exp(-F.col("alpha") * F.col("y") * h), 12).alias(
                "dw"
            ),
        )
    s1 = bests[0].select(
        F.col("feature").alias("f1"), F.col("split_bin").alias("c1"),
        F.col("polarity").alias("p1"), F.col("alpha").alias("a1"),
    )
    s2 = bests[1].select(
        F.col("feature").alias("f2"), F.col("split_bin").alias("c2"),
        F.col("polarity").alias("p2"), F.col("alpha").alias("a2"),
    )

    def hx(fcol, ccol, pcol):
        return F.when(
            F.col(fcol) == 1,
            F.when(F.col("x1") <= F.col(ccol), F.col(pcol)).otherwise(-F.col(pcol)),
        ).otherwise(
            F.when(F.col("x2") <= F.col(ccol), F.col(pcol)).otherwise(-F.col(pcol))
        )

    score = F.col("a1") * hx("f1", "c1", "p1") + F.col("a2") * hx("f2", "c2", "p2")
    pred = F.when(score > 0, 1).otherwise(-1)
    ens = (
        grid0.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .agg(
            F.sum(
                F.when(pred != F.col("y"), F.col("dw").cast("bigint")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_err"),
            F.sum(F.col("dw").cast("bigint")).cast("bigint").alias("n"),
        )
    )
    out = None
    for i, b in enumerate(bests, start=1):
        row = b.crossJoin(F.broadcast(ens)).select(
            F.lit(i).alias("round"),
            "feature",
            "split_bin",
            "polarity",
            F.round("err", 9).alias("err"),
            F.round("alpha", 9).alias("alpha"),
            F.round(F.col("n_err").cast("double") / F.col("n"), 9).alias(
                "ensemble_train_err"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")
