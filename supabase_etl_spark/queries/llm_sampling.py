"""Corpus sampling, splitting, chunking, and quantization
(LLM-data-pipeline operators beyond the §2.2 list — the remaining
pieces a training-data pipeline runs between dedup and training).

Determinism rule: anything "random" is an integer LCG over row ids
(h = (A·id + B) mod P), so sampling decisions replay bit-for-bit in
DuckDB and across cluster re-runs — re-running a 100 TB sampling job
yields the same corpus, which is what reproducible training demands.
`sampleBy`/`rand()` never appear: their results depend on partition
layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.text import tokens
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query

A, B, P = 1_103_515_245, 12_345, 2_147_483_647

CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # overlap = size - stride


def _bucket(id_col: Column, buckets: int = 100) -> Column:
    """Deterministic pseudo-random bucket in [0, buckets)."""
    return ((F.lit(A).cast("bigint") * id_col.cast("bigint") + F.lit(B)) % P) % buckets


def _sql_bucket(id_col: str, buckets: int = 100) -> str:
    return f"((({A} * CAST({id_col} AS BIGINT) + {B}) % {P}) % {buckets})"


@query(
    "sample_stratified",
    oracle=f"""
    WITH sampled AS (
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE {_sql_bucket("doc_id")} < CASE lang
            WHEN 'en' THEN 10 WHEN 'zh' THEN 50 ELSE 25 END
    )
    SELECT lang, count(*) AS n_sampled,
           CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS BIGINT) AS total_chars
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-language rates (10% en, 50% zh,
    25% others — the up/down-weighting move of corpus curation), via
    deterministic LCG buckets. Pure per-row filter: scan-speed, no
    shuffle until the rollup."""
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "zh", 50)
        .otherwise(25)
    )
    sampled = d.filter(_bucket(F.col("doc_id")) < rate)
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("n_chars").cast("decimal(28,6)")).cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT CASE WHEN {_sql_bucket("doc_id")} < 80 THEN 'train'
                WHEN {_sql_bucket("doc_id")} < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents
    GROUP BY 1
    ORDER BY split
    """,
    tags=("llm", "sampling"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment from the same LCG buckets —
    stable across re-runs and engines, so no document ever migrates
    between splits when the pipeline is re-executed."""
    d = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


@query(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents WHERE doc_id < 100
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(0, greatest(1, CAST(ceil((len(t) - {CHUNK_SIZE}) /
                   {CHUNK_STRIDE}.0) AS BIGINT) + 1))) AS chunk_idx,
               t
        FROM toks
    )
    SELECT doc_id, chunk_idx,
           array_to_string(t[chunk_idx * {CHUNK_STRIDE} + 1 :
                             chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ') AS chunk_text,
           least({CHUNK_SIZE}, len(t) - chunk_idx * {CHUNK_STRIDE}) AS n_tokens
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "sampling"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 48 —
    the RAG/pre-training segmentation op): each doc explodes into its
    overlapping chunks with exact token budgets. Array-local slicing on
    a materialized token column — no Python, no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tk = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("t") - F.lit(CHUNK_SIZE)) / F.lit(float(CHUNK_STRIDE))).cast("bigint")
        + 1,
    )
    chunks = tk.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        "t",
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE + 1
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", F.slice(F.col("t"), start, F.lit(CHUNK_SIZE))).alias("chunk_text"),
        F.least(
            F.lit(CHUNK_SIZE), F.size("t") - F.col("chunk_idx") * CHUNK_STRIDE
        ).alias("n_tokens"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH stats AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings WHERE vec_id < 100
    ),
    q AS (
        SELECT vec_id, amax / 127.0 AS scale,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT)) AS qvec,
               embedding
        FROM stats
    )
    SELECT vec_id, scale,
           list_min(qvec) AS q_min, list_max(qvec) AS q_max,
           (list_reduce(list_transform(range(1, len(embedding) + 1),
                i -> abs(CAST(embedding[i] AS DOUBLE) - qvec[i] * scale)),
                (acc, x) -> acc + x) + 0.0) AS l1_error
    FROM q
    ORDER BY vec_id
    """,
    tags=("llm", "sampling"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding (scale = max|x|/127,
    q = round(x/scale)) with reconstruction L1 error — the storage-
    compression op for billion-vector stores (4x smaller than float32).
    All array-local arithmetic; round() is half-away-from-zero in both
    engines on identical doubles."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    stats = e.select("vec_id", emb_d.alias("emb"), F.array_max(
        F.transform(emb_d, F.abs)
    ).alias("amax"))
    scale = F.col("amax") / 127.0
    q = stats.select(
        "vec_id",
        scale.alias("scale"),
        "emb",
        F.transform(F.col("emb"), lambda x: F.round(x / (F.col("amax") / 127.0)).cast("bigint")).alias("qvec"),
    )
    l1 = (
        F.aggregate(
            F.zip_with(F.col("emb"), F.col("qvec"), lambda x, qv: F.abs(x - qv * F.col("scale"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(0.0)
    )
    return q.select(
        "vec_id",
        "scale",
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
        l1.alias("l1_error"),
    ).orderBy("vec_id")


RESERVOIR_WEIGHTED_K = 20  # weighted sample size per source


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               ln(CAST(({A} * doc_id + {B}) % {P} AS DOUBLE) / {P})
                 / n_chars AS es_key
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY es_key DESC, doc_id
               ) AS rank
        FROM keyed
    )
    SELECT source, rank, doc_id, n_chars AS weight
    FROM ranked
    WHERE rank <= {RESERVOIR_WEIGHTED_K}
    ORDER BY source, rank
    """,
    tags=("llm", "sampling"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample per source — Efraimidis–Spirakis A-ES:
    each row draws key u^(1/w) (equivalently ln(u)/w, the monotone form
    computed here) with u a deterministic LCG uniform and w the row
    weight (n_chars, a quality/size proxy); the top-K keys per group
    ARE a weighted-without-replacement sample. The property that makes
    A-ES the 100 TB choice: the key is computed row-locally in one
    scan, top-K per group is a windowed rank (or a mergeable per-
    partition heap at cluster scale) — no global sort, no sequential
    reservoir state, and re-runs reproduce the exact sample because u
    derives from doc_id, not partition order."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    h = (F.lit(A).cast("bigint") * F.col("doc_id") + F.lit(B)) % P
    u = h.cast("double") / F.lit(float(P))
    key = F.log(u) / F.col("n_chars")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc_nulls_last("es_key"), "doc_id")
    return (
        d.withColumn("es_key", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RESERVOIR_WEIGHTED_K)
        .select("source", "rank", "doc_id", F.col("n_chars").alias("weight"))
        .orderBy("source", "rank")
    )


DSIR_BUCKETS = 256  # hashed n-gram feature buckets
DSIR_K = 50         # resampled corpus size
# cross-engine 32-bit gram hash: int(md5(g)[:8], 16) — md5 is the one
# hash both Spark and DuckDB compute identically over UTF-8 text
_DSIR_SQL_BUCKET = (
    f"(CAST(concat('0x', substring(md5(g), 1, 8)) AS BIGINT) % {DSIR_BUCKETS})"
)


def dsir_bucket_expr(g) -> "F.Column":
    """Gram → feature-bucket hash for the DSIR family: the 32-bit md5
    prefix mod DSIR_BUCKETS, which DuckDB replays bit-for-bit as
    `_DSIR_SQL_BUCKET`. The bucket ids are the result here (they pick
    the sampled corpus), so any other hash would select different rows
    than the oracle."""
    return F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint") % DSIR_BUCKETS


_DSIR_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


@query(
    "sample_dsir",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, {_DSIR_TOKS} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, g FROM (
            SELECT doc_id, lang, unnest(toks) AS g FROM base
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS g
            FROM base WHERE len(toks) >= 2
        )
    ),
    bucketed AS (
        SELECT doc_id, lang, {_DSIR_SQL_BUCKET} AS b FROM grams
    ),
    rcnt AS (SELECT b, count(*) AS cr FROM bucketed GROUP BY b),
    tcnt AS (SELECT b, count(*) AS ct FROM bucketed WHERE lang = 'en' GROUP BY b),
    tot AS (
        SELECT count(*) AS nr,
               count(*) FILTER (WHERE lang = 'en') AS nt
        FROM bucketed
    ),
    ratio AS (
        SELECT r.b,
               ln((COALESCE(t.ct, 0) + 1) / CAST(nt + {DSIR_BUCKETS} AS DOUBLE))
                 - ln((r.cr + 1) / CAST(nr + {DSIR_BUCKETS} AS DOUBLE)) AS lr
        FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tot
    ),
    bdoc AS (
        SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n_db
        FROM bucketed GROUP BY doc_id, b
    ),
    docw AS (
        SELECT doc_id,
               SUM(n_db * CAST(round(lr * 1000000000000.0) AS BIGINT)) AS lw12
        FROM bdoc JOIN ratio USING (b)
        GROUP BY doc_id
    ),
    scored AS (
        SELECT d.doc_id, d.lang,
               CAST(COALESCE(w.lw12, 0) AS DOUBLE) / 1000000000000.0
                 - ln(-ln((({A} * d.doc_id + {B}) % {P} + 1)
                          / (CAST({P} AS DOUBLE) + 1))) AS gkey,
               CAST(COALESCE(w.lw12, 0) AS DOUBLE) / 1000000000000.0 AS logw
        FROM documents d LEFT JOIN docw w USING (doc_id)
    ),
    ranked AS (
        SELECT doc_id, lang, logw, gkey,
               row_number() OVER (ORDER BY gkey DESC, doc_id) AS rank
        FROM scored
    )
    SELECT rank, doc_id, lang,
           round(logw, 6) AS log_weight, round(gkey, 6) AS gumbel_key
    FROM ranked WHERE rank <= {DSIR_K}
    ORDER BY rank
    """,
    tags=("llm", "sampling"),
    bench=True,
    uwin=(
        '256-row hashed-gram ratio grid (checkpointed)',
    ),
)
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): pick pretraining documents whose hashed-n-gram
    distribution looks like a target domain. Feature space: unigrams +
    bigrams hashed into {256} buckets (the paper uses 10k; the machinery
    is bucket-count-agnostic). Importance log-weight of a document is
    Σ over its gram occurrences of ln p_target(bucket) − ln p_raw(bucket)
    (add-1 smoothed); selection is Gumbel top-k over logw + Gumbel
    noise — the exact sampling-without-replacement equivalence — with
    the Gumbel drawn from the registry's deterministic LCG uniform so
    the selected corpus replays bit-for-bit.

    Target here: lang='en' documents (the "formal text" stand-in);
    raw: the whole corpus.

    100 TB shape: the bucket log-ratio table is {256} rows built by two
    map-side-combined aggs over one gram stream (tiny shuffle on 256
    keys, no skew — buckets are hash-uniform); scoring re-streams the
    grams against the BROADCAST ratio table and aggregates per doc
    (one corpus-keyed shuffle with partial aggregation); the final
    top-k is TakeOrdered, never a global sort. Nothing driver-side,
    nothing quadratic. Per-doc sums go through exact small decimals so
    executor partition order cannot move the doubles.

    Hash choice: the gram bucket hash is the md5 prefix
    (`dsir_bucket_expr`), the one hash DuckDB replays bit-for-bit.
    xxhash64 costs about half as much per gram pass (SCALE.md) but
    buckets the grams differently, so it selects a different corpus
    than the oracle. Docstring numbers are interpolated from
    DSIR_BUCKETS/DSIR_K.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(F.size("toks") >= 2, F.concat(F.col("toks"), bigrams)).otherwise(
                F.col("toks")
            )
        ).alias("g"),
    )
    bucket = dsir_bucket_expr("g")
    # hash every gram ONCE into a (doc, bucket) count grid and PIN it
    # (pinning.pin): the grid has two consumers (the 256-row
    # distribution agg and the scoring join) and relying on
    # ReusedExchange proved brittle — the r8 plan audit found the join
    # side acquires a pushed isnotnull(doc_id) the agg side lacks, so
    # the subtrees stop being identical and the WHOLE tokenize+hash
    # pipeline re-ran per consumer (3 corpus scans at 2x corpus gram
    # volume — the dominant cost at any scale). The checkpoint
    # materializes the post-aggregation grid (strictly smaller than
    # the gram stream) exactly once; at 100 TB that is the standard
    # reuse-vs-recompute call for a multi-consumer subplan.
    bdoc = pin(
        grams.select("doc_id", "lang", bucket.alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n_db")),
        eager=True,
    )
    # ONE conditional agg carries both distributions (raw + target);
    # the corpus totals fold in as windows over the 256-row bucket
    # table — no extra aggregate stage, no crossJoin
    wall = Window.partitionBy()
    cnt = bdoc.groupBy("b").agg(
        F.sum("n_db").alias("cr"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == "en", F.col("n_db"))), F.lit(0)
        ).alias("ct"),
    )
    smooth = F.lit(DSIR_BUCKETS).cast("bigint")
    ratio = cnt.select(
        "b",
        "cr",
        "ct",
        F.sum("cr").over(wall).alias("nr"),
        F.sum("ct").over(wall).alias("nt"),
    ).select(
        "b",
        (
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("nt") + smooth).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("nr") + smooth).cast("double")
            )
        ).alias("lr"),
    )
    # Σ over buckets n_db·lr replaces Σ over occurrences — scoring
    # joins the 256-row ratio table onto the grid, not the raw gram
    # stream. The ratio is quantized ONCE to a 1e-12-scaled BIGINT on
    # the 256-row table, so the grid-sized product and the per-doc sum
    # run in pure LONG arithmetic (whole-stage codegen) — the r8
    # hierarchical integer-scale lever; the earlier DECIMAL(10,0)·
    # (14,12) multiply put every grid row on Spark's slow decimal path
    # (measured: the scoring stage dropped ~0.5s at sf0.1). Exactness
    # is unchanged: both engines round the same IEEE double lr·1e12 to
    # the same integer and sum exactly. Per-doc overflow bound:
    # Σ n_db·|lr12| ≤ grams_per_doc · ~3e13 — safe to ~3e5 tokens/doc,
    # far above the corpus's n_chars ceiling.
    lr12 = F.round(F.col("lr") * 1e12, 0).cast("long")
    docw = (
        bdoc.join(F.broadcast(ratio.select("b", lr12.alias("lr12"))), "b")
        .groupBy("doc_id")
        .agg(
            # checked accumulation: try_sum nulls on 64-bit overflow
            # (the documented ~3e5 tokens/doc bound made a loud error
            # instead of a silent wrap — ADVICE r8, low)
            F.coalesce(
                F.try_sum(F.col("n_db") * F.col("lr12")),
                F.raise_error(
                    F.lit(
                        "sample_dsir lw12 long accumulation overflow — "
                        "document exceeds the ~3e5-token scoring bound"
                    )
                ).cast("bigint"),
            ).alias("lw12")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    u = (
        ((F.lit(A).cast("bigint") * F.col("doc_id") + F.lit(B)) % P + 1).cast("double")
        / F.lit(float(P + 1))
    )
    logw = F.coalesce(F.col("lw12"), F.lit(0)).cast("double") / F.lit(1e12)
    scored = docs.join(docw, "doc_id", "left").select(
        "doc_id",
        "lang",
        logw.alias("logw"),
        (logw - F.log(-F.log(u))).alias("gkey"),
    )
    # global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    # per-partition heaps, never a single-partition sort; the rank
    # column is derived afterwards on the K-row result
    top = scored.orderBy(F.desc("gkey"), F.asc("doc_id")).limit(DSIR_K)
    w = Window.orderBy(F.desc("gkey"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "doc_id",
            "lang",
            F.round("logw", 6).alias("log_weight"),
            F.round("gkey", 6).alias("gumbel_key"),
        )
        .orderBy("rank")
    )


BOOT_B = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds scaled to 1e6 LCG buckets:
# P(X<=k) for k=0..4, tail mass to 5
_POIS = (367879, 735758, 919698, 981011, 996340)


def _poisson_count_expr(u):
    """Deterministic Poisson(1) draw from an LCG bucket in [0, 1e6)."""
    c = F.lit(5)
    for k in range(len(_POIS) - 1, -1, -1):
        c = F.when(u < _POIS[k], k).otherwise(c)
    return c


def _sql_poisson(u: str) -> str:
    return (
        f"(CASE WHEN {u} < {_POIS[0]} THEN 0 WHEN {u} < {_POIS[1]} THEN 1 "
        f"WHEN {u} < {_POIS[2]} THEN 2 WHEN {u} < {_POIS[3]} THEN 3 "
        f"WHEN {u} < {_POIS[4]} THEN 4 ELSE 5 END)"
    )


@query(
    "sample_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT d.doc_id, d.n_chars, r.b,
               {_sql_poisson(_sql_bucket("d.doc_id * 37 + r.b", 1_000_000))} AS w
        FROM documents d, range(0, {BOOT_B}) AS r(b)
    ),
    per_rep AS (
        SELECT b,
               CAST(SUM(CAST(w AS DECIMAL(20,0)) * n_chars) AS DOUBLE)
                   / SUM(w) AS rep_mean
        FROM reps GROUP BY b HAVING SUM(w) > 0
    ),
    moments AS (
        SELECT count(*) AS n_reps,
               CAST(SUM(CAST(round(rep_mean, 9) AS DECIMAL(28,12))) AS DOUBLE)
                   / count(*) AS boot_mean,
               CAST(SUM(CAST(round(rep_mean * rep_mean, 6) AS DECIMAL(38,8))) AS DOUBLE)
                   / count(*) AS boot_m2
        FROM per_rep
    )
    SELECT n_reps,
           round(boot_mean, 6) AS boot_mean,
           round(sqrt(boot_m2 - boot_mean * boot_mean), 6) AS boot_se
    FROM moments
    """,
    tags=("llm", "sampling", "stats"),
)
def sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP standard error of the mean document length —
    the resampling machinery that gives error bars on any corpus
    statistic without a second pass per replicate: each (doc,
    replicate) pair draws a deterministic Poisson(1) weight (inverse
    CDF over the registry's LCG, so both engines replay every draw),
    all {B} replicates ride ONE explode of the corpus, and each
    replicate's weighted mean + the across-replicate moments reduce in
    exact decimals. This is the distributed bootstrap as production
    runs it (Poisson weights, not true multinomial resampling —
    Chamandy et al., Google 2012); work is corpus x B rows in one map
    + two tiny aggs, never B corpus passes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = d.crossJoin(
        F.broadcast(
            d.sparkSession.range(BOOT_B).select(F.col("id").cast("int").alias("b"))
        )
    )
    u = _bucket(F.col("doc_id") * 37 + F.col("b"), 1_000_000)
    reps = reps.select("doc_id", "n_chars", "b", _poisson_count_expr(u).alias("w"))
    per_rep = (
        reps.groupBy("b")
        .agg(
            (
                F.sum(F.col("w").cast("decimal(20,0)") * F.col("n_chars")).cast(
                    "double"
                )
                / F.sum("w")
            ).alias("rep_mean")
        )
        .filter(F.col("rep_mean").isNotNull())
    )
    moments = per_rep.agg(
        F.count(F.lit(1)).alias("n_reps"),
        (
            F.sum(F.round(F.col("rep_mean"), 9).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("boot_mean"),
        (
            F.sum(
                F.round(F.col("rep_mean") * F.col("rep_mean"), 6).cast(
                    "decimal(38,8)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("boot_m2"),
    )
    return moments.select(
        "n_reps",
        F.round("boot_mean", 6).alias("boot_mean"),
        F.round(
            F.sqrt(F.col("boot_m2") - F.col("boot_mean") * F.col("boot_mean")), 6
        ).alias("boot_se"),
    )


NEG_K = 4  # negatives per anchor
NEG_ANCHORS = 64  # anchor docs: doc_id < NEG_ANCHORS


@query(
    "sample_contrastive_negatives",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, source FROM documents),
    anchors AS (SELECT doc_id AS anchor_id, source AS anchor_src
                FROM corpus WHERE doc_id < {NEG_ANCHORS}),
    n AS (SELECT count(*) AS n_docs, min(doc_id) AS base FROM corpus),
    draws AS (
        SELECT a.anchor_id, a.anchor_src, r.j,
               {_sql_bucket("a.anchor_id * 101 + r.j", 1_000_000_000)}
                   % (SELECT n_docs FROM n) AS pick_off
        FROM anchors a, range(0, {NEG_K * 4}) AS r(j)
    ),
    picked AS (
        SELECT d.anchor_id, d.anchor_src, d.j,
               c.doc_id AS negative_id, c.source AS negative_src
        FROM draws d
        JOIN (SELECT doc_id, source,
                     row_number() OVER (ORDER BY doc_id) - 1 AS off
              FROM corpus) c
          ON c.off = d.pick_off
        WHERE c.source <> d.anchor_src AND c.doc_id <> d.anchor_id
    ),
    ranked AS (
        SELECT anchor_id, negative_id, negative_src,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY j, negative_id) AS rnk
        FROM picked
    )
    SELECT anchor_id, rnk AS neg_rank, negative_id, negative_src
    FROM ranked WHERE rnk <= {NEG_K}
    ORDER BY anchor_id, neg_rank
    """,
    tags=("llm", "sampling", "training"),
)
def sample_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive training (the
    retrieval/embedding fine-tuning data shape: per anchor, k negatives
    drawn corpus-wide, excluding the anchor's own source as a cheap
    hard-positive guard): each anchor draws 4k LCG offsets into the
    doc_id rank space (over-drawing covers rejections), joins them to
    the ranked corpus, rejects same-source/self picks, and keeps the
    first k survivors in draw order — every re-run and both engines
    reproduce the identical pairs, the property contrastive data prep
    needs for resumable jobs. Shape: the offset join is |anchors x 4k|
    rows against a corpus ranked ONCE (distributed rank at scale, the
    SNM machinery); no corpus x corpus stage."""
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    n_docs = corpus.count()  # driver-side scalar: one footer-cheap count
    anchors = corpus.filter(F.col("doc_id") < NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"), F.col("source").alias("anchor_src")
    )
    draws = anchors.crossJoin(
        F.broadcast(
            spark.range(NEG_K * 4).select(F.col("id").cast("int").alias("j"))
        )
    ).select(
        "anchor_id",
        "anchor_src",
        "j",
        (
            _bucket(F.col("anchor_id") * 101 + F.col("j"), 1_000_000_000) % n_docs
        ).alias("pick_off"),
    )
    # distributed global rank (operators/prefix.py), not a bare
    # Window.orderBy — the whole corpus would flow through one task
    from supabase_etl_spark.operators.prefix import distributed_cumsum

    ranked_corpus = distributed_cumsum(
        corpus.withColumn("one", F.lit(1).cast("decimal(20,0)")),
        "one",
        [F.col("doc_id")],
        out="rk",
    ).select(
        "doc_id", "source", (F.col("rk").cast("bigint") - 1).alias("off")
    )
    picked = (
        draws.join(ranked_corpus, draws.pick_off == ranked_corpus.off)
        .filter(
            (F.col("source") != F.col("anchor_src"))
            & (F.col("doc_id") != F.col("anchor_id"))
        )
        .select(
            "anchor_id",
            "j",
            F.col("doc_id").alias("negative_id"),
            F.col("source").alias("negative_src"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("j", "negative_id")
    return (
        picked.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= NEG_K)
        .select("anchor_id", "neg_rank", "negative_id", "negative_src")
        .orderBy("anchor_id", "neg_rank")
    )


SHUFFLE_EPOCHS = 3


@query(
    "sample_epoch_shuffle",
    oracle=f"""
    WITH e AS (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch),
    keyed AS (
        SELECT e.epoch, d.doc_id,
               md5(e.epoch || ':' || d.doc_id) AS shuffle_key
        FROM documents d CROSS JOIN e
    )
    SELECT epoch,
           CAST(row_number() OVER (
                PARTITION BY epoch ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
           doc_id, shuffle_key
    FROM keyed
    ORDER BY epoch, pos
    """,
    tags=("llm", "sampling"),
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training shuffle: every epoch gets its
    own full permutation of the corpus, keyed by md5(epoch:doc_id) — the
    reproducible data-ordering a training run needs (re-running epoch k
    on any cluster layout replays the same order; md5 is the one hash
    both engines compute identically, same parity trick as DSIR).

    Scale: the naive row_number() OVER (PARTITION BY epoch ORDER BY key)
    funnels each epoch through ONE task (epoch cardinality ~3 — the
    classic low-cardinality window skew). Instead: range-repartition on
    (epoch, key, doc_id), rank within partitions, add broadcast
    per-partition offsets (global rank, same idiom as
    dedup_sorted_neighborhood), then rebase per epoch by subtracting the
    broadcast per-epoch min rank — every stage is corpus-parallel, no
    single-task sort at any epoch count."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(SHUFFLE_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))).alias("shuffle_key"),
    )
    par = spark.sparkContext.defaultParallelism
    ranged = keyed.repartitionByRange(par, "epoch", "shuffle_key", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    ranged = pin(ranged)  # rank + offsets; pins pid binding (scan-leaf lint)
    wl = Window.partitionBy("pid").orderBy("epoch", "shuffle_key", "doc_id")
    local = ranged.withColumn("lrn", F.row_number().over(wl))
    # per-partition counts -> exclusive offsets; the only driver-ordered
    # window runs over ~par rows, not the corpus
    offsets = (
        ranged.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("pid", "off")
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "epoch", "doc_id", "shuffle_key", (F.col("lrn") + F.col("off")).alias("grn")
    )
    base = ranked.groupBy("epoch").agg(F.min("grn").alias("base"))
    return (
        ranked.join(F.broadcast(base), "epoch")
        .select(
            "epoch",
            (F.col("grn") - F.col("base") + 1).cast("bigint").alias("pos"),
            "doc_id",
            "shuffle_key",
        )
        .orderBy("epoch", "pos")
    )


DOREMI_ROUNDS = 3
DOREMI_ETA = 5.0  # mirror-descent step; scaled for visible reweighting


def _doremi_sql(rounds: int, eta: float) -> str:
    """Unrolled mirror-descent oracle: per round, the blend distribution
    q_t = sum_i w_i p_i and each domain's excess KL(p_i || q_t) rebuild
    from the CURRENT weights, then w <- w * exp(eta * KL) normalized.
    Every cross-term sum runs through decimal(38,18) so engine
    accumulation order can't skew the trajectory."""
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
    parts = [
        f"""
    WITH tok AS (
        SELECT source, unnest({toks}) AS t FROM documents
    ),
    st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY source, t),
    stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
             FROM st GROUP BY source),
    p AS (
        SELECT st.source, st.t,
               CAST(st.c_st AS DOUBLE) / CAST(stot.n_s AS DOUBLE) AS p
        FROM st JOIN stot USING (source)
    ),
    w0 AS (
        SELECT source,
               1.0 / (SELECT count(DISTINCT source) FROM documents) AS w
        FROM (SELECT DISTINCT source FROM documents)
    )"""
    ]
    for r in range(1, rounds + 1):
        prev = f"w{r - 1}"
        parts.append(f""",
    q{r} AS (
        SELECT p.t,
               CAST(SUM(CAST(p.p * w.w AS DECIMAL(38,18))) AS DOUBLE) AS q
        FROM p JOIN {prev} w USING (source) GROUP BY p.t
    ),
    kl{r} AS (
        SELECT p.source,
               CAST(SUM(CAST(p.p * ln(p.p / q{r}.q) AS DECIMAL(38,18)))
                    AS DOUBLE) AS kl
        FROM p JOIN q{r} USING (t) GROUP BY p.source
    ),
    n{r} AS (
        SELECT w.source, w.w * exp({eta} * kl{r}.kl) AS num
        FROM {prev} w JOIN kl{r} USING (source)
    ),
    d{r} AS (
        SELECT CAST(SUM(CAST(num AS DECIMAL(38,18))) AS DOUBLE) AS den
        FROM n{r}
    ),
    w{r} AS (
        SELECT source, num / d{r}.den AS w FROM n{r} CROSS JOIN d{r}
    )""")
    parts.append(f"""
    SELECT w.source,
           round(w.w, 9) AS weight,
           round(kl.kl, 6) AS kl_to_blend
    FROM w{rounds} w JOIN kl{rounds} kl USING (source)
    ORDER BY w.source""")
    return "".join(parts)


@query(
    "sample_doremi_weights",
    oracle=_doremi_sql(DOREMI_ROUNDS, DOREMI_ETA),
    tags=("llm", "sampling", "iterative"),
)
def sample_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, Group-DRO
    mirror descent): per round, rebuild the blended token distribution
    q_t = sum_i w_i p_i from the CURRENT weights, measure each domain's
    excess loss as KL(p_i || q_t) (how much the blend underserves the
    domain), and update w <- w * exp(eta * KL), normalized. Domains far
    from the blend gain weight, and the blend chases them — the whole
    trajectory is data-dependent, so the rounds are genuinely
    iterative, yet the unrolled SQL oracle value-hashes every step.

    Scale: ONE corpus scan builds the per-domain unigram table; each
    round is vocab-sized joins (q_t, KL) plus domain-sized weight
    algebra — corpus-independent loop cost, same shape as the BPE
    trainer. Decimal(38,18) sums keep q_t, KL, and the normalizer
    order-free so Spark parallel == DuckDB sequential bit-for-bit; the
    weight chain itself is scalar double arithmetic, IEEE-identical.
    Weights stay in DataFrames end-to-end (domain-sized
    pins per round, no driver-side math)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c_st"))
    stot = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    p = pin(
        st.join(F.broadcast(stot), "source")
        .select(
            "source",
            "t",
            (F.col("c_st").cast("double") / F.col("n_s").cast("double")).alias("p"),
        )
        # vocab×domain-sized; consumed twice per round (q_t blend + KL)
        # inside every kl pin's builder — without this pin the corpus
        # tokenize ran 2× per round (pin-interior lint, r13), breaking
        # the docstring's one-corpus-scan contract
    )
    n_src = d.select("source").distinct().count()  # bounded: domain count
    w = pin(
        d.select("source")
        .distinct()
        .select("source", (F.lit(1.0) / F.lit(float(n_src))).alias("w")),
        eager=True,
    )
    kl = None
    for _ in range(DOREMI_ROUNDS):
        q = (
            p.join(F.broadcast(w), "source")
            .select("t", (F.col("p") * F.col("w")).cast("decimal(38,18)").alias("term"))
            .groupBy("t")
            .agg(F.sum("term").cast("double").alias("q"))
        )
        kl = pin(  # domain-sized
            p.join(q, "t")
            .select(
                "source",
                (F.col("p") * F.log(F.col("p") / F.col("q")))
                .cast("decimal(38,18)")
                .alias("term"),
            )
            .groupBy("source")
            .agg(F.sum("term").cast("double").alias("kl")),
            eager=True,
        )
        num = w.join(kl, "source").select(
            "source", (F.col("w") * F.exp(DOREMI_ETA * F.col("kl"))).alias("num")
        )
        den = num.agg(
            F.sum(F.col("num").cast("decimal(38,18)")).cast("double").alias("den")
        )
        w = pin(
            num.crossJoin(F.broadcast(den))
            .select("source", (F.col("num") / F.col("den")).alias("w")),
            eager=True,
        )
    return (
        w.join(kl, "source")
        .select(
            "source",
            F.round("w", 9).alias("weight"),
            F.round("kl", 6).alias("kl_to_blend"),
        )
        .orderBy("source")
    )


@query(
    "sample_mixup_pairs",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS r,
               COUNT(*) OVER (PARTITION BY lang) AS n_s
        FROM documents
    ),
    paired AS (
        SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, a.r
        FROM ranked a
        JOIN ranked b
          ON a.lang = b.lang AND b.r = (a.r + a.n_s // 2) % a.n_s
        WHERE a.n_s >= 2
    )
    SELECT lang, id_a, id_b,
           CAST((({A} * (id_a * 131 + id_b) + {B}) % {P}) AS DOUBLE) / {P} AS lam
    FROM paired
    ORDER BY lang, id_a
    """,
    tags=("llm", "sampling"),
)
def sample_mixup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MixUp pair planning: within each language stratum, pair the
    rank-r example with rank (r + n/2) mod n and attach a deterministic
    LCG mixing coefficient λ — the shuffle-free, replayable version of
    the random pairing MixUp/CutMix training needs (re-running the plan
    on any cluster layout yields the same pairs, so augmented batches
    are reproducible). Per-stratum rank windows and one rank equi-join;
    no global shuffle, fan-out exactly 1:1."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        (F.row_number().over(w) - 1).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_s"),
    )
    a = ranked.alias("a")
    b = ranked.select(
        F.col("lang").alias("lang_b"), F.col("doc_id").alias("id_b"), F.col("r").alias("rb")
    )
    paired = (
        a.filter(F.col("n_s") >= 2)
        .join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("rb") == (F.col("r") + F.floor(F.col("n_s") / 2)) % F.col("n_s")),
        )
        .select("lang", F.col("doc_id").alias("id_a"), "id_b")
    )
    lam = (
        (F.lit(A).cast("bigint") * (F.col("id_a") * 131 + F.col("id_b")) + B) % P
    ).cast("double") / P
    return paired.select("lang", "id_a", "id_b", lam.alias("lam")).orderBy("lang", "id_a")


WF_BUDGET = 120000  # total token budget to allocate across sources
WF_ROUNDS = 3  # water-filling rounds (sources converge fast)


@query(
    "sample_water_filling_budget",
    oracle=f"""
    WITH supply AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS sup
        FROM documents GROUP BY source
    ),
    r1 AS (
        SELECT source, sup,
               CASE WHEN sup * (SELECT COUNT(*) FROM supply) <= {WF_BUDGET}
                    THEN sup ELSE CAST(-1 AS BIGINT) END AS alloc
        FROM supply
    ),
    r1s AS (
        SELECT CAST({WF_BUDGET} - COALESCE(SUM(CASE WHEN alloc >= 0 THEN alloc END), 0)
                    AS BIGINT) AS remaining,
               CAST(SUM(CASE WHEN alloc < 0 THEN 1 ELSE 0 END) AS BIGINT) AS active
        FROM r1
    ),
    r2 AS (
        SELECT r1.source, r1.sup,
               CASE WHEN r1.alloc >= 0 THEN r1.alloc
                    WHEN r1.sup * r1s.active <= r1s.remaining THEN r1.sup
                    ELSE CAST(-1 AS BIGINT) END AS alloc
        FROM r1 CROSS JOIN r1s
    ),
    r2s AS (
        SELECT CAST({WF_BUDGET} - COALESCE(SUM(CASE WHEN alloc >= 0 THEN alloc END), 0)
                    AS BIGINT) AS remaining,
               CAST(SUM(CASE WHEN alloc < 0 THEN 1 ELSE 0 END) AS BIGINT) AS active
        FROM r2
    )
    SELECT r2.source, r2.sup AS supply_chars,
           CASE WHEN r2.alloc >= 0 THEN r2.alloc
                ELSE r2s.remaining // r2s.active END AS allocated,
           r2.alloc < 0 AS capped_by_budget
    FROM r2 CROSS JOIN r2s
    ORDER BY r2.source
    """,
    tags=("llm", "sampling", "curation"),
)
def sample_water_filling_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources: each round
    gives every still-active source an equal share of the remaining
    budget; sources whose whole supply fits under the share take it all
    and exit, and the share rises for the rest — the classic max-min
    fair allocator (same fixpoint as network rate fairness), used to
    cap dominant domains without starving small ones. Two unrolled
    rounds + final equal split converge for any source count whose
    supply ordering has <= 2 distinct 'fits under share' tiers (here 20
    sources, verified identical to the fixpoint); each round is
    arithmetic on the source-cardinality table after ONE corpus
    groupBy."""
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    supply = d.groupBy("source").agg(F.sum("n_chars").alias("sup"))
    supply = pin(supply)  # count + fill iterations (scan-leaf lint)
    n_src = supply.count()  # source-cardinality metadata, bounded
    cur = supply.select(
        "source",
        "sup",
        F.when(F.col("sup") * n_src <= WF_BUDGET, F.col("sup"))
        .otherwise(F.lit(-1).cast("bigint"))
        .alias("alloc"),
    )
    for _ in range(WF_ROUNDS - 2):
        stats = cur.agg(
            (
                WF_BUDGET
                - F.coalesce(F.sum(F.when(F.col("alloc") >= 0, F.col("alloc"))), F.lit(0))
            ).alias("remaining"),
            F.sum(F.when(F.col("alloc") < 0, 1).otherwise(0)).alias("active"),
        )
        cur = cur.crossJoin(F.broadcast(stats)).select(
            "source",
            "sup",
            F.when(F.col("alloc") >= 0, F.col("alloc"))
            .when(F.col("sup") * F.col("active") <= F.col("remaining"), F.col("sup"))
            .otherwise(F.lit(-1).cast("bigint"))
            .alias("alloc"),
        )
    final_stats = cur.agg(
        (
            WF_BUDGET
            - F.coalesce(F.sum(F.when(F.col("alloc") >= 0, F.col("alloc"))), F.lit(0))
        ).alias("remaining"),
        F.sum(F.when(F.col("alloc") < 0, 1).otherwise(0)).alias("active"),
    )
    return (
        cur.crossJoin(F.broadcast(final_stats))
        .select(
            "source",
            F.col("sup").alias("supply_chars"),
            F.when(F.col("alloc") >= 0, F.col("alloc"))
            .otherwise(F.floor(F.col("remaining") / F.col("active")).cast("bigint"))
            .alias("allocated"),
            (F.col("alloc") < 0).alias("capped_by_budget"),
        )
        .orderBy("source")
    )


KFOLD_K = 5


@query(
    "sample_kfold_assign",
    oracle=f"""
    WITH folds AS (
        SELECT doc_id, lang, n_chars,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {KFOLD_K} AS fold
        FROM documents
    )
    SELECT fold, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_chars
    FROM folds
    GROUP BY fold, lang
    ORDER BY fold, lang
    """,
    tags=("llm", "sampling", "cv"),
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5(doc_id) % 5 — content-independent, replayable on any engine,
    and stable under corpus growth (a document's fold never changes
    when neighbors arrive, unlike row_number() % k). The output is the
    fold x language balance audit a CV harness checks before training:
    near-uniform fold sizes and per-language means confirm the hash is
    not confounded with strata. Pure map + one grouped agg; the fold
    is the md5 prefix, the hash DuckDB replays bit-for-bit (as in
    dsir_bucket_expr)."""
    d = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % KFOLD_K
    )
    return (
        d.select(fold.alias("fold"), "lang", "n_chars")
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.sum(F.col("n_chars").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_chars"),
        )
        .orderBy("fold", "lang")
    )


BATCH_TOKENS = 512  # batch capacity used for padding-efficiency audit
BATCH_DOCS = 8  # docs per batch


@query(
    "sample_length_bucketed_batching",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tok,
               ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rn_sorted,
               ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '#batch'), doc_id
               ) AS rn_random
        FROM lens
    ),
    assigned AS (
        SELECT n_tok,
               CAST((rn_sorted - 1) // {BATCH_DOCS} AS BIGINT) AS b_sorted,
               CAST((rn_random - 1) // {BATCH_DOCS} AS BIGINT) AS b_random
        FROM ranked
    ),
    s AS (
        SELECT b_sorted AS batch, CAST(SUM(n_tok) AS BIGINT) AS toks,
               CAST(MAX(n_tok) AS BIGINT) * COUNT(*) AS padded
        FROM assigned GROUP BY b_sorted
    ),
    r AS (
        SELECT b_random AS batch, CAST(SUM(n_tok) AS BIGINT) AS toks,
               CAST(MAX(n_tok) AS BIGINT) * COUNT(*) AS padded
        FROM assigned GROUP BY b_random
    )
    SELECT 'length_sorted' AS strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(toks) AS BIGINT) AS real_tokens,
           CAST(SUM(padded) AS BIGINT) AS padded_tokens,
           round(CAST(SUM(toks) AS DOUBLE) / SUM(padded), 9) AS efficiency
    FROM s
    UNION ALL
    SELECT 'random', CAST(COUNT(*) AS BIGINT), CAST(SUM(toks) AS BIGINT),
           CAST(SUM(padded) AS BIGINT),
           round(CAST(SUM(toks) AS DOUBLE) / SUM(padded), 9)
    FROM r
    ORDER BY strategy
    """,
    tags=("llm", "sampling", "training"),
)
def sample_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the padding-efficiency lever
    every LLM training loader pulls (sorting by length before
    batching so each batch pads to a SIMILAR max, vs random batching
    where one long doc pads the whole batch): both strategies assign
    docs to fixed-size batches deterministically (length-sorted rank
    vs md5-shuffled rank), and the report compares real tokens to
    padded tokens (batch_size x batch_max). Complements
    pack_sequences (concat packing) with the padded-batch shape.
    Both global ranks are DISTRIBUTED (operators/prefix.distributed_cumsum:
    range-repartition + per-partition running count + broadcast offsets —
    the SNM machinery), never a bare Window.orderBy that would funnel the
    whole corpus through one task (VERDICT r7 finding 1); two grouped
    aggregations follow. Plan-pinned by
    tests/test_plan_shapes.py::test_length_batching_ranks_are_distributed."""
    d = load_table(spark, sf_dir, "documents")
    from supabase_etl_spark.operators.prefix import distributed_cumsum
    from supabase_etl_spark.operators.text import tokens

    lens = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#batch"))).alias(
            "shuf"
        ),
        F.lit(1).cast("decimal(20,0)").alias("one"),
    )
    ranked = distributed_cumsum(
        lens, "one", [F.col("n_tok"), F.col("doc_id")], out="rn_sorted"
    )
    ranked = distributed_cumsum(
        ranked, "one", [F.col("shuf"), F.col("doc_id")], out="rn_random"
    )
    assigned = ranked.select(
        "n_tok",
        F.floor((F.col("rn_sorted").cast("bigint") - 1) / BATCH_DOCS)
        .cast("bigint")
        .alias("b_sorted"),
        F.floor((F.col("rn_random").cast("bigint") - 1) / BATCH_DOCS)
        .cast("bigint")
        .alias("b_random"),
    )

    def audit(bcol: str, name: str) -> DataFrame:
        per = assigned.groupBy(bcol).agg(
            F.sum("n_tok").cast("bigint").alias("toks"),
            (F.max("n_tok").cast("bigint") * F.count(F.lit(1))).alias("padded"),
        )
        return per.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("toks").cast("bigint").alias("real_tokens"),
            F.sum("padded").cast("bigint").alias("padded_tokens"),
            F.round(
                F.sum("toks").cast("double") / F.sum("padded"), 9
            ).alias("efficiency"),
        ).select("strategy", "n_batches", "real_tokens", "padded_tokens", "efficiency")

    return (
        audit("b_sorted", "length_sorted")
        .unionByName(audit("b_random", "random"))
        .orderBy("strategy")
    )


AL_BUDGET = 25  # labeling budget per model


@query(
    "sample_active_learning_queue",
    oracle=f"""
    WITH scored AS (
        SELECT m.model,
               e.vec_id,
               CAST(FLOOR((CAST(CASE WHEN m.model = 'm1' THEN embedding[1]
                                     ELSE embedding[2] END AS DOUBLE)
                           + 0.25 * (label % 2)) * 40) AS BIGINT) AS s
        FROM embeddings e
        CROSS JOIN (SELECT 'm1' AS model UNION ALL SELECT 'm2') m
    ),
    prob AS (
        SELECT model, vec_id,
               0.5 + 0.5 * (CAST(s AS DOUBLE) / 40.0)
                         / (1.0 + ABS(CAST(s AS DOUBLE) / 40.0)) AS p
        FROM scored
    ),
    ranked AS (
        SELECT model, vec_id, p, ABS(p - 0.5) AS margin,
               ROW_NUMBER() OVER (PARTITION BY model
                                  ORDER BY ABS(p - 0.5), vec_id) AS rn
        FROM prob
    )
    SELECT model, vec_id, round(p, 9) AS p, round(margin, 9) AS margin,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {AL_BUDGET}
    ORDER BY model, rank
    """,
    tags=("llm", "sampling", "training"),
)
def sample_active_learning_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty-sampling labeling queue (margin-based active
    learning): per model, the k rows whose predicted probability sits
    closest to 0.5 — where a label purchase buys the most decision-
    boundary information. Scores ride the eval fixture's quantized
    grid + rational squash (no transcendentals); the queue is a
    per-model top-k window, TakeOrdered-shaped. This is the loop that
    decides which documents human annotators see next in a curation
    pipeline; at 100 TB it is one scan + a k-bounded per-model
    selection."""
    e = load_table(spark, sf_dir, "embeddings")

    def model(dim: int, name: str) -> DataFrame:
        raw = F.element_at("embedding", dim).cast("double") + 0.25 * (
            F.col("label") % 2
        )
        return e.select(
            F.lit(name).alias("model"),
            "vec_id",
            F.floor(raw * 40).cast("bigint").alias("s"),
        )

    scored = model(1, "m1").unionByName(model(2, "m2"))
    zz = F.col("s").cast("double") / 40.0
    p = 0.5 + 0.5 * zz / (1.0 + F.abs(zz))
    prob = scored.select("model", "vec_id", p.alias("p"))
    w = Window.partitionBy("model").orderBy(F.abs(F.col("p") - 0.5), "vec_id")
    return (
        prob.withColumn("margin", F.abs(F.col("p") - 0.5))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= AL_BUDGET)
        .select(
            "model",
            "vec_id",
            F.round("p", 9).alias("p"),
            F.round("margin", 9).alias("margin"),
            F.col("rn").cast("bigint").alias("rank"),
        )
        .orderBy("model", "rank")
    )


MLM_RATE = 15  # percent of tokens selected for prediction
MLM_MASK = 80  # of selected: % replaced with [MASK]
MLM_RAND = 10  # of selected: % replaced with a random token


@query(
    "sample_mlm_masking_plan",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS w,
               unnest(range(1, len(list_filter(
                   regexp_split_to_array(text, '\\s+'), t -> t <> '')) + 1))
                   AS pos
        FROM documents
    ),
    plan AS (
        SELECT doc_id, pos,
               {_sql_bucket("doc_id * 100000 + pos")} AS sel,
               {_sql_bucket("doc_id * 100000 + pos + 7777777")} AS act
        FROM tok
    ),
    decided AS (
        SELECT doc_id, pos,
               CASE WHEN sel < {MLM_RATE} THEN
                        CASE WHEN act < {MLM_MASK} THEN 'mask'
                             WHEN act < {MLM_MASK + MLM_RAND} THEN 'random'
                             ELSE 'keep' END
                    ELSE 'pass' END AS action
        FROM plan
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN action <> 'pass' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
           CAST(SUM(CASE WHEN action = 'mask' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mask,
           CAST(SUM(CASE WHEN action = 'random' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_random,
           CAST(SUM(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep_selected,
           CAST(SUM(CASE WHEN action <> 'pass' THEN pos ELSE 0 END) AS BIGINT)
               AS selected_pos_checksum
    FROM decided
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "sampling", "training"),
)
def sample_mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style masked-LM corruption PLAN: 15% of token positions
    are selected for prediction, and of those 80% become [MASK], 10%
    a random token, 10% stay verbatim — decided by the deterministic
    LCG on (doc, position) so every re-run (and both engines) builds
    the identical training epoch, the resumability property span
    corruption (T5) already has in this suite. The per-doc counts and
    the selected-position checksum hash-verify the plan exactly. One
    token explode + one grouped count — map-side combinable, no
    shuffle beyond the doc key at any corpus size."""
    from supabase_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "w"))
    key = F.col("doc_id") * 100000 + (F.col("pos0") + 1)
    sel = _bucket(key)
    act = _bucket(key + 7777777)
    decided = tok.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.when(
            sel < MLM_RATE,
            F.when(act < MLM_MASK, "mask")
            .when(act < MLM_MASK + MLM_RAND, "random")
            .otherwise("keep"),
        )
        .otherwise("pass")
        .alias("action"),
    )
    c = lambda cond, al: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(al)  # noqa: E731
    return (
        decided.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            c(F.col("action") != "pass", "n_selected"),
            c(F.col("action") == "mask", "n_mask"),
            c(F.col("action") == "random", "n_random"),
            c(F.col("action") == "keep", "n_keep_selected"),
            F.sum(F.when(F.col("action") != "pass", F.col("pos")).otherwise(0))
            .cast("bigint")
            .alias("selected_pos_checksum"),
        )
        .orderBy("doc_id")
    )


NEYMAN_BUDGET = 200  # total labeling budget to allocate


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH strata AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                    AS DOUBLE) AS s2
        FROM documents GROUP BY source
    ),
    sd AS (
        SELECT source, n_h,
               sqrt((s2 - s1 * s1 / n_h) / (n_h - 1)) AS sigma
        FROM strata
    ),
    tot AS (
        SELECT CAST(SUM(CAST(round(n_h * sigma, 6) AS DECIMAL(38,6))) AS DOUBLE)
            AS denom
        FROM sd
    )
    SELECT source, n_h,
           round(sigma, 9) AS sigma_chars,
           round({NEYMAN_BUDGET} * (n_h * sigma)
                 / (SELECT denom FROM tot), 9) AS neyman_share,
           CAST(floor({NEYMAN_BUDGET} * round(n_h * sigma, 6)
                      / (SELECT denom FROM tot)) AS BIGINT) AS n_alloc_floor
    FROM sd
    ORDER BY source
    """,
    tags=("llm", "sampling", "statistics"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a labeling budget across strata
    (n_h ∝ N_h·σ_h — the variance-minimizing split of a fixed audit
    budget, the principled upgrade over proportional sampling that the
    stratified-sample operator uses): per-source document counts and
    length standard deviations allocate a {NEYMAN_BUDGET}-label
    budget. High-variance strata earn more labels per document.

    Exactness: σ_h from exact integer power sums; the N_h·σ_h products
    round at 1e-6 into the decimal denominator; shares are single
    double divisions rounded at 9 (floor allocation uses the same
    rounded numerator both sides). One map-side-combined aggregate."""
    d = load_table(spark, sf_dir, "documents")
    nc = F.col("n_chars").cast("bigint")
    strata = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(nc).cast("double").alias("s1"),
        F.sum(nc * nc).cast("double").alias("s2"),
    )
    sd = strata.select(
        "source",
        "n_h",
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h")) / (F.col("n_h") - 1)
        ).alias("sigma"),
    )
    tot = sd.agg(
        F.sum(F.round(F.col("n_h") * F.col("sigma"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("denom")
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_h",
            F.round("sigma", 9).alias("sigma_chars"),
            F.round(
                F.lit(NEYMAN_BUDGET) * (F.col("n_h") * F.col("sigma")) / F.col("denom"),
                9,
            ).alias("neyman_share"),
            F.floor(
                F.lit(NEYMAN_BUDGET)
                * F.round(F.col("n_h") * F.col("sigma"), 6)
                / F.col("denom")
            )
            .cast("bigint")
            .alias("n_alloc_floor"),
        )
        .orderBy("source")
    )


ESS_CLIP = 4.0  # importance-weight truncation bound (SWIS-style)


@query(
    "sample_importance_ess",
    oracle=f"""
    WITH src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k
        FROM src
    ),
    w AS (
        SELECT d.doc_id, d.source,
               least(CAST((SELECT n FROM tot) AS DOUBLE)
                     / ((SELECT k FROM tot) * s.n_s), {ESS_CLIP!r}) AS wt
        FROM documents d JOIN src s ON d.source = s.source
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(round(wt, 12) AS DECIMAL(38,12))) AS DOUBLE), 9)
               AS sum_w,
           round(CAST(SUM(CAST(round(wt * wt, 12) AS DECIMAL(38,12))) AS DOUBLE), 9)
               AS sum_w2,
           round(POWER(CAST(SUM(CAST(round(wt, 12) AS DECIMAL(38,12))) AS DOUBLE), 2)
                 / CAST(SUM(CAST(round(wt * wt, 12) AS DECIMAL(38,12))) AS DOUBLE), 9)
               AS effective_sample_size,
           round(POWER(CAST(SUM(CAST(round(wt, 12) AS DECIMAL(38,12))) AS DOUBLE), 2)
                 / CAST(SUM(CAST(round(wt * wt, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 9) AS ess_fraction,
           CAST(SUM(CASE WHEN wt >= {ESS_CLIP!r} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped
    FROM w
    """,
    tags=("llm", "sampling", "statistics"),
)
def sample_importance_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of a clipped importance-weighted corpus
    (Kish ESS = (Σw)²/Σw², with SWIS-style weight truncation at
    {ESS_CLIP}) — the health metric every importance-sampling pipeline
    (DSIR reweighting, off-policy eval, RLHF advantage weighting)
    reports before trusting a reweighted estimate: ESS/n near 1 means
    the reweighting is benign; near 0 means a few documents dominate.
    Weights here re-balance sources to the uniform mixture
    (w = (n/k)/n_s, clipped).

    Exactness: weights are ratios of exact integers clipped by an
    identical least(); w and w² round at 1e-12 into decimal sums; the
    ESS algebra is one shared double expression. Scale: one grouped
    count + one broadcast join + one global aggregate."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
    src = pin(src)  # total + weights (scan-leaf lint)
    tot = src.agg(
        F.sum("n_s").cast("bigint").alias("n"), F.count(F.lit(1)).cast("bigint").alias("k")
    )
    w = (
        d.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.least(
                F.col("n").cast("double") / (F.col("k") * F.col("n_s")),
                F.lit(ESS_CLIP),
            ).alias("wt")
        )
    )
    sw = F.sum(F.round("wt", 12).cast("decimal(38,12)")).cast("double")
    sw2 = F.sum(F.round(F.col("wt") * F.col("wt"), 12).cast("decimal(38,12)")).cast(
        "double"
    )
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(sw, 9).alias("sum_w"),
        F.round(sw2, 9).alias("sum_w2"),
        F.round(F.pow(sw, 2) / sw2, 9).alias("effective_sample_size"),
        F.round(F.pow(sw, 2) / sw2 / F.count(F.lit(1)), 9).alias("ess_fraction"),
        F.sum((F.col("wt") >= ESS_CLIP).cast("int")).cast("bigint").alias("n_clipped"),
    )


PPS_K = 25  # systematic PPS draws


@query(
    "sample_pps_systematic",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
    ),
    cum AS (
        SELECT doc_id, w,
               SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS hi,
               SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - w AS lo,
               SUM(w) OVER () AS tot
        FROM sized
    ),
    grid AS (
        SELECT unnest(range(0, {PPS_K})) AS j
    ),
    anchors AS (
        -- deterministic anchor: offset = tot / (2k), stride = tot / k
        -- (integer-scaled by 2k so every comparison stays integral)
        SELECT j, (2 * j + 1) AS num FROM grid
    ),
    picks AS (
        SELECT a.j, c.doc_id, c.w, c.tot
        FROM anchors a JOIN cum c
          ON a.num * c.tot > 2 * {PPS_K} * c.lo
         AND a.num * c.tot <= 2 * {PPS_K} * c.hi
    )
    SELECT j AS draw, doc_id, w AS n_chars,
           round(CAST({PPS_K} AS DOUBLE) * w / tot, 9) AS inclusion_prob
    FROM picks
    ORDER BY draw
    """,
    tags=("llm", "sampling"),
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (the
    textbook PPS design: lay the size-weighted corpus on a line, draw
    every tot/k with a fixed half-stride anchor) — the sampler that
    gives token-budget-proportional inclusion WITHOUT per-row
    randomness, used when a corpus audit must hit big documents with
    certainty but stay O(1)-seeded and replayable.

    Exactness: all interval membership tests are INTEGER
    cross-products (anchor·tot vs 2k·cumsum — no division anywhere),
    so the draw set is bit-deterministic; inclusion probabilities are
    single double divisions rounded at 9. Scale: the cumulative sum is
    DISTRIBUTED (operators/prefix.distributed_cumsum — range repartition
    + per-partition prefix + broadcast offsets; VERDICT r7 finding 2
    replaced the bare Window.orderBy that funneled the corpus through one
    task), the global total is one aggregate broadcast back in, and the
    k-row anchor join broadcasts. Plan-pinned by
    tests/test_plan_shapes.py::test_pps_cumsum_is_distributed."""
    from supabase_etl_spark.operators.prefix import distributed_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    tot = d.agg(F.sum("w").cast("bigint").alias("tot"))
    cum = (
        distributed_cumsum(
            d.withColumn("wdec", F.col("w").cast("decimal(20,0)")),
            "wdec",
            [F.col("doc_id")],
            out="hi_dec",
        )
        .select(
            "doc_id",
            "w",
            F.col("hi_dec").cast("bigint").alias("hi"),
            (F.col("hi_dec").cast("bigint") - F.col("w")).alias("lo"),
        )
        .crossJoin(F.broadcast(tot))
    )
    anchors = spark.range(PPS_K).select(
        F.col("id").alias("j"), (2 * F.col("id") + 1).alias("num")
    )
    picks = F.broadcast(anchors).join(
        cum,
        (F.col("num") * F.col("tot") > 2 * PPS_K * F.col("lo"))
        & (F.col("num") * F.col("tot") <= 2 * PPS_K * F.col("hi")),
    )
    return picks.select(
        F.col("j").alias("draw"),
        "doc_id",
        F.col("w").alias("n_chars"),
        F.round(F.lit(float(PPS_K)) * F.col("w") / F.col("tot"), 9).alias(
            "inclusion_prob"
        ),
    ).orderBy("draw")


@query(
    "sample_soft_dedup_downweight",
    oracle="""
    WITH canon AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   '\\s+', ' ', 'g'))) AS h
        FROM documents
    ),
    sized AS (
        SELECT h, CAST(count(*) AS BIGINT) AS dup_n FROM canon GROUP BY h
    ),
    weighted AS (
        SELECT c.doc_id, c.source, c.n_chars, s.dup_n,
               1.0 / s.dup_n AS w
        FROM canon c JOIN sized s ON c.h = s.h
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_duplicated,
           round(CAST(SUM(CAST(round(w, 12) AS DECIMAL(38,12))) AS DOUBLE), 9)
               AS effective_docs,
           round(CAST(SUM(CAST(round(w * n_chars, 6) AS DECIMAL(38,6)))
                      AS DOUBLE), 6) AS effective_chars
    FROM weighted
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "sampling", "dedup"),
)
def sample_soft_dedup_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication — instead of dropping duplicates, every copy
    of a duplicated document gets sampling weight 1/cluster_size, so
    the expected number of times the CONTENT is seen per epoch is one
    (the downweighting alternative hard dedup pipelines debate; keeps
    provenance diversity while killing the repetition-memorization
    gradient). Clusters: canonicalized exact hash (the
    dedup_exact_canonical key). Reports per-source effective document
    and char budgets after downweighting.

    Exactness: weights are exact 1/k rationals rounded at 1e-12;
    char-weighted mass rounds at 1e-6 (integer×rational of ≤4-digit
    denominators is exact well above that). One hash agg + one
    hash-keyed join — dedup_exact's scale shape."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                r"\s+",
                " ",
            )
        )
    )
    canon = d.select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"), h.alias("h")
    )
    sized = canon.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("dup_n"))
    weighted = canon.join(sized, "h").select(
        "source",
        "n_chars",
        "dup_n",
        (F.lit(1.0) / F.col("dup_n")).alias("w"),
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("dup_n") > 1).cast("int")).cast("bigint").alias("n_duplicated"),
            F.round(
                F.sum(F.round("w", 12).cast("decimal(38,12)")).cast("double"), 9
            ).alias("effective_docs"),
            F.round(
                F.sum(F.round(F.col("w") * F.col("n_chars"), 6).cast("decimal(38,6)")).cast(
                    "double"
                ),
                6,
            ).alias("effective_chars"),
        )
        .orderBy("source")
    )


CORESET_BUDGET = 64  # coreset size target


@query(
    "sample_coreset_sensitivity",
    oracle=f"""
    WITH vals AS (
        SELECT vec_id, i, CAST(x AS DOUBLE) AS x
        FROM (
            SELECT vec_id,
                   unnest(range(1, len(embedding) + 1)) AS i,
                   unnest(embedding) AS x
            FROM embeddings
        )
    ),
    mu AS (
        SELECT i, CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE)
                    / count(*) AS m
        FROM vals GROUP BY i
    ),
    d2 AS (
        SELECT v.vec_id,
               CAST(SUM(CAST(round((v.x - m.m) * (v.x - m.m), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS dist2
        FROM vals v JOIN mu m ON v.i = m.i
        GROUP BY v.vec_id
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(dist2, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sd2
        FROM d2
    ),
    sens AS (
        SELECT vec_id, dist2,
               round(0.5 / (SELECT n FROM tot)
                     + 0.5 * round(dist2, 9) / (SELECT sd2 FROM tot), 12) AS s
        FROM d2
    ),
    ranked AS (
        SELECT vec_id, dist2, s,
               ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS rn
        FROM sens
    )
    SELECT rn, vec_id, round(dist2, 6) AS dist2, round(s, 12) AS sensitivity,
           round({CORESET_BUDGET} * s, 9) AS expected_copies
    FROM ranked WHERE rn <= {CORESET_BUDGET}
    ORDER BY rn
    """,
    tags=("llm", "sampling", "embedding"),
)
def sample_coreset_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity-sampling coreset plan for k-means (Bachem, Lucic &
    Krause 2018 lightweight coresets): each vector's sensitivity upper
    bound s(x) = ½/n + ½·d²(x, mean)/Σd² decides its inclusion
    pressure in a {CORESET_BUDGET}-point coreset — far-from-mean
    points are provably the ones a subsample must keep for a bounded
    k-means objective error. Emits the top-budget plan (the
    deterministic skeleton; the randomized fill uses the registry's
    LCG machinery elsewhere).

    Exactness: the mean vector comes from per-dim decimal sums;
    distances are round-12 decimal sums of identical per-component
    doubles; sensitivities quantize at 12 before the rank with a
    vec_id tie-break. Scale: two corpus passes (mean, distances), both
    map-side combined; no pairwise anything. The top-budget cut is
    orderBy().limit() — TakeOrderedAndProject per-partition heaps —
    with the rank derived on the budget-sized result (the DSIR shape),
    never a global row_number window over every vector."""
    e = load_table(spark, sf_dir, "embeddings")
    vals = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    vals = pin(vals)  # mean pass + distance pass (scan-leaf lint)
    mu = vals.groupBy("i").agg(
        (F.sum(F.round("x", 9).cast("decimal(38,9)")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    d2 = (
        vals.join(F.broadcast(mu), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.round((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 12).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("dist2")
        )
    )
    d2 = pin(d2)  # total + sensitivity rows (scan-leaf lint)
    tot = d2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("dist2", 9).cast("decimal(38,9)")).cast("double").alias("sd2"),
    )
    sens = d2.crossJoin(F.broadcast(tot)).select(
        "vec_id",
        "dist2",
        F.round(
            F.lit(0.5) / F.col("n") + F.lit(0.5) * F.round("dist2", 9) / F.col("sd2"),
            12,
        ).alias("s"),
    )
    top = sens.orderBy(F.col("s").desc(), "vec_id").limit(CORESET_BUDGET)
    w = Window.orderBy(F.col("s").desc(), "vec_id")
    return (
        top.withColumn("rn", F.row_number().over(w))
        .select(
            "rn",
            "vec_id",
            F.round("dist2", 6).alias("dist2"),
            F.round("s", 12).alias("sensitivity"),
            F.round(F.lit(CORESET_BUDGET) * F.col("s"), 9).alias("expected_copies"),
        )
        .orderBy("rn")
    )


TOP_P = 0.8  # nucleus mass


@query(
    "sample_top_p_nucleus",
    oracle=f"""
    WITH src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM src),
    ranked AS (
        SELECT source, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, source) AS rn,
               SUM(n) OVER (ORDER BY n DESC, source
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM src
    ),
    cut AS (
        SELECT MIN(rn) AS k FROM ranked
        WHERE cum * 1.0 >= {TOP_P!r} * (SELECT nt FROM tot)
    ),
    nucleus AS (
        SELECT r.source, r.n, r.rn, r.rn <= (SELECT k FROM cut) AS in_nucleus,
               (SELECT SUM(n) FROM ranked WHERE rn <= (SELECT k FROM cut)) AS mass
        FROM ranked r
    )
    SELECT rn, source, n,
           round(CAST(n AS DOUBLE) / (SELECT nt FROM tot), 9) AS p_raw,
           in_nucleus,
           CASE WHEN in_nucleus
                THEN round(CAST(n AS DOUBLE) / mass, 9) ELSE 0.0 END AS p_renormalized
    FROM nucleus
    ORDER BY rn
    """,
    tags=("llm", "sampling"),
    uwin=(
        'source-domain table (bounded corpus sources; re-evaluated per consumer)',
        'source-domain table (bounded corpus sources; re-evaluated per consumer)',
        'source-domain table (bounded corpus sources; re-evaluated per consumer)',
        'source-domain table (bounded corpus sources; re-evaluated per consumer)',
    ),
)
def sample_top_p_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) truncation of the SOURCE mixture (Holtzman et
    al. 2020, applied at the data-mixing level: keep the smallest set
    of domains covering {TOP_P} of the corpus mass, renormalize, drop
    the long tail) — the truncation counterpart of the temperature
    mixture operator; pipelines use it to cut noisy micro-domains
    before training. Emits each domain's raw and renormalized
    probability with its nucleus membership.

    Exactness: counts are integers; the cutoff compares integer
    cumulative mass against p·N directly (one double multiply); ranks
    tie-break on the source name. The rank window is domain-sized."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = src.agg(F.sum("n").cast("bigint").alias("nt"))
    wo = Window.orderBy(F.col("n").desc(), "source")
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    ranked = src.select(
        "source",
        "n",
        F.row_number().over(wo).alias("rn"),
        F.sum("n").over(wc).alias("cum"),
    ).crossJoin(F.broadcast(tot))
    ranked = pin(ranked)  # cut + nucleus tagging (scan-leaf lint)
    cut = ranked.filter(
        F.col("cum") * 1.0 >= TOP_P * F.col("nt")
    ).agg(F.min("rn").alias("k"))
    withk = ranked.crossJoin(F.broadcast(cut)).withColumn(
        "in_nucleus", F.col("rn") <= F.col("k")
    )
    mass = withk.filter(F.col("in_nucleus")).agg(
        F.sum("n").cast("bigint").alias("mass")
    )
    return (
        withk.crossJoin(F.broadcast(mass))
        .select(
            "rn",
            "source",
            "n",
            F.round(F.col("n").cast("double") / F.col("nt"), 9).alias("p_raw"),
            "in_nucleus",
            F.when(
                F.col("in_nucleus"),
                F.round(F.col("n").cast("double") / F.col("mass"), 9),
            )
            .otherwise(0.0)
            .alias("p_renormalized"),
        )
        .orderBy("rn")
    )


CURRICULUM_STEPS = 100  # training steps T in the pacing schedule


@query(
    "sample_curriculum_schedule",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rnk,
               count(*) OVER () AS n
        FROM documents
    ),
    steps AS (
        SELECT doc_id, n_chars,
               GREATEST(CAST(1 AS BIGINT),
                   CAST(({CURRICULUM_STEPS} * rnk * rnk + n * n - 1) // (n * n)
                        AS BIGINT)) AS first_step
        FROM ranked
    )
    SELECT CAST((first_step - 1) // 10 AS BIGINT) AS step_decile,
           CAST(count(*) AS BIGINT) AS new_docs,
           CAST(SUM(count(*)) OVER (ORDER BY CAST((first_step - 1) // 10 AS BIGINT)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) / count(*)
               AS mean_difficulty
    FROM steps
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("llm", "sampling", "curriculum"),
    uwin=(
        '10-row schedule-decile table',
    ),
)
def sample_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-p curriculum pacing (Platanios et al. 2019): sort the
    corpus easy→hard (difficulty proxy: n_chars), and with competence
    c(t) = sqrt(t/T) a document at difficulty-CDF position ρ = rank/N
    first becomes trainable at step t = ceil(T·ρ²) — computed in EXACT
    integer arithmetic ((T·rank² + N²−1) div N²). Output: the step-
    decile release schedule (new docs, cumulative pool, mean
    difficulty of each tranche).

    100 TB: the global rank is the distributed two-pass construction
    (operators/prefix.distributed_cumsum — range repartition +
    partition-local window + broadcast offsets), NEVER a single-
    partition global window; the decile rollup is a 10-row aggregate.
    The oracle's row_number() is the sequential twin of the same total
    order (n_chars, doc_id)."""
    from supabase_etl_spark.operators.prefix import distributed_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.lit(1).cast("decimal(38,0)").alias("one")
    )
    n_total = d.groupBy().agg(F.count(F.lit(1)).alias("n"))
    ranked = distributed_cumsum(
        d, "one", [F.col("n_chars"), F.col("doc_id")], out="rnk"
    ).crossJoin(F.broadcast(n_total))
    steps = ranked.select(
        "n_chars",
        F.greatest(
            F.lit(1).cast("bigint"),
            # exact int64 ceil-division: (T·rank² + N² − 1) div N²
            F.expr(
                f"({CURRICULUM_STEPS}L * cast(rnk as bigint) * cast(rnk as bigint)"
                " + n * n - 1L) div (n * n)"
            ),
        ).alias("first_step"),
    )
    byd = steps.groupBy(
        F.expr("(first_step - 1L) div 10L").cast("bigint").alias("step_decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_docs"),
        (
            F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("double") / F.count(F.lit(1))
        ).alias("mean_difficulty"),
    )
    wcum = Window.orderBy("step_decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return byd.select(
        "step_decile",
        "new_docs",
        F.sum("new_docs").over(wcum).cast("bigint").alias("cumulative_docs"),
        "mean_difficulty",
    ).orderBy("step_decile")


LR_BUDGET = 1000  # total seats to apportion across sources


@query(
    "sample_largest_remainder_split",
    oracle=f"""
    WITH grp AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM grp),
    quota AS (
        SELECT g.source, g.n_docs,
               CAST(({LR_BUDGET} * g.n_docs) // t.n AS BIGINT) AS floor_alloc,
               CAST(({LR_BUDGET} * g.n_docs) % t.n AS BIGINT) AS remainder_num
        FROM grp g CROSS JOIN tot t
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY remainder_num DESC, source) AS rk,
               CAST({LR_BUDGET} AS BIGINT) - SUM(floor_alloc) OVER () AS seats_left
        FROM quota
    )
    SELECT source, n_docs, floor_alloc,
           remainder_num, rk AS remainder_rank,
           floor_alloc + CASE WHEN rk <= seats_left THEN 1 ELSE 0 END
               AS final_alloc
    FROM ranked
    ORDER BY source
    """,
    tags=("llm", "sampling"),
    uwin=(
        'source-domain table (bounded corpus sources)',
        'source-domain table (bounded corpus sources)',
    ),
)
def sample_largest_remainder_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sampling
    budget across sources — the exact integer answer to "give every
    domain its proportional share of {LR_BUDGET} training slots and
    distribute the rounding leftovers fairly". Pure integer arithmetic
    end-to-end: quotas as integer div/mod against the corpus total (no
    float quota ever exists, so no engine can disagree), leftovers
    ranked by the integer remainder numerator with a source tiebreak.
    At 100 TB this is one grouped count plus window algebra on the
    SOURCE-sized table (bounded by the domain alphabet, never the
    corpus) — the windows here are over dozens of rows by design."""
    d = load_table(spark, sf_dir, "documents")
    grp = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = grp.agg(F.sum("n_docs").cast("bigint").alias("n"))
    quota = grp.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        # SQL `div`: exact BIGINT division (a/b then cast would round-trip
        # through double and lose exactness past 2^53 totals)
        F.expr(f"({LR_BUDGET} * n_docs) div n").cast("bigint").alias("floor_alloc"),
        ((F.lit(LR_BUDGET) * F.col("n_docs")) % F.col("n"))
        .cast("bigint")
        .alias("remainder_num"),
    )
    wrk = Window.orderBy(F.desc("remainder_num"), "source")
    wall = Window.partitionBy()
    ranked = quota.select(
        "source",
        "n_docs",
        "floor_alloc",
        "remainder_num",
        F.row_number().over(wrk).alias("remainder_rank"),
        (F.lit(LR_BUDGET).cast("bigint") - F.sum("floor_alloc").over(wall)).alias(
            "seats_left"
        ),
    )
    return ranked.select(
        "source",
        "n_docs",
        "floor_alloc",
        "remainder_num",
        "remainder_rank",
        (
            F.col("floor_alloc")
            + F.when(F.col("remainder_rank") <= F.col("seats_left"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("final_alloc"),
    ).orderBy("source")


DCS_RSTAR = 15.39  # repeat-value decay constant (Muennighoff et al. 2023)
DCS_EPOCH_GRID = (1, 2, 4, 8, 16)
_DCS_TOK = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"


@query(
    "sample_data_constrained_epochs",
    oracle=f"""
    WITH src AS (
        SELECT source,
               CAST(sum(len({_DCS_TOK})) AS BIGINT) AS unique_tokens
        FROM documents GROUP BY source
    ),
    grid AS (
        SELECT * FROM (VALUES {", ".join(f"({e})" for e in DCS_EPOCH_GRID)})
        AS g(epochs)
    )
    SELECT s.source, g.epochs, s.unique_tokens,
           CAST(s.unique_tokens * g.epochs AS BIGINT) AS total_tokens,
           round(s.unique_tokens * (1 + {DCS_RSTAR} *
                 (1 - exp(-(g.epochs - 1) / {DCS_RSTAR}))), 3)
               AS effective_tokens,
           round((1 + {DCS_RSTAR} * (1 - exp(-(g.epochs - 1) / {DCS_RSTAR})))
                 / g.epochs, 9) AS effective_fraction
    FROM src s CROSS JOIN grid g
    ORDER BY s.source, g.epochs
    """,
    tags=("llm", "sampling", "scaling-law"),
)
def sample_data_constrained_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained scaling planner (Muennighoff et al., NeurIPS
    2023): when the unique corpus is smaller than the compute-optimal
    token budget, repeated epochs still add value, but with
    exponentially decaying returns — effective data D' = U * (1 + R* *
    (1 - e^(-R/R*))) for R repeat epochs past the first, with the
    paper's fitted R* = {DCS_RSTAR} (epochs beyond ~4 repeats are worth
    a rapidly vanishing fraction; ~16 repeats saturate). The planning
    table every data-constrained pretraining run starts from: per
    source, the effective-token yield and efficiency of training 1 / 2
    / 4 / 8 / 16 epochs over it. (The marginal value e^(-R/R*) depends
    only on the epoch count, so under this law the budget-optimal
    allocation is UNIFORM epochs across sources — the table shows the
    law; the water-filling and mixture operators handle caps the law
    doesn't model.)

    100 TB shape: one map-side-combinable token-count aggregate over
    the corpus scan (source-keyed, tiny shuffle), crossJoin with a
    broadcast {len(DCS_EPOCH_GRID)}-row literal epoch grid, per-row
    closed-form arithmetic. The exp() is a per-row transform over the
    source x epoch grid (exact bigint token counts times a shared
    per-epoch constant; round margins are 6+ orders above double ulp)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    src = d.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("unique_tokens")
    )
    grid = spark.createDataFrame(
        [(e,) for e in DCS_EPOCH_GRID], "epochs int"
    )
    k = F.lit(1.0) + F.lit(DCS_RSTAR) * (
        F.lit(1.0)
        - F.exp(-(F.col("epochs") - 1).cast("double") / F.lit(DCS_RSTAR))
    )
    return (
        src.crossJoin(F.broadcast(grid))
        .select(
            "source",
            "epochs",
            "unique_tokens",
            (F.col("unique_tokens") * F.col("epochs"))
            .cast("bigint")
            .alias("total_tokens"),
            F.round(F.col("unique_tokens") * k, 3).alias("effective_tokens"),
            F.round(k / F.col("epochs"), 9).alias("effective_fraction"),
        )
        .orderBy("source", "epochs")
    )


SHARD_COUNT = 16  # training shards for the snake-draft assignment
_SHARD_TOK = r"len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))"


@query(
    "sample_shard_snake_balanced",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {_SHARD_TOK} AS n_tok FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tok,
               row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS r0
        FROM d
    ),
    assigned AS (
        SELECT doc_id, n_tok,
               CASE WHEN (r0 // {SHARD_COUNT}) % 2 = 0
                    THEN r0 % {SHARD_COUNT}
                    ELSE {SHARD_COUNT} - 1 - (r0 % {SHARD_COUNT}) END AS shard_id
        FROM ranked
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM d)
    SELECT a.shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(a.n_tok) AS BIGINT) AS tokens,
           round(CAST(sum(a.n_tok) AS DOUBLE) * {SHARD_COUNT} / t.t, 9)
               AS share_of_mean
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.shard_id, t.t
    ORDER BY a.shard_id
    """,
    tags=("llm", "sampling", "sharding"),
)
def sample_shard_snake_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-balanced shard assignment — the write-side
    step every training-data pipeline ends with: documents dealt into
    {SHARD_COUNT} shards by SNAKE DRAFT over the token-count rank
    (descending; block k deals left-to-right, block k+1 right-to-left),
    the classic streaming approximation of LPT/greedy bin packing: each
    2S-block contributes rank i + rank 2S-1-i to every shard, so shard
    token totals stay within one document of each other wherever the
    length distribution is smooth. Output is the per-shard ledger
    (docs, tokens, share-of-mean) a shard writer would verify before
    sealing files.

    100 TB shape: the global rank is operators/prefix.distributed_rank
    (range-repartition + per-partition offsets — bit-equal to
    row_number() without a single-partition window), the snake map is
    per-row integer arithmetic, and the ledger is one {SHARD_COUNT}-key
    aggregate. Nothing driver-side; ties broken by doc_id so the
    assignment replays bit-for-bit."""
    from supabase_etl_spark.operators.prefix import distributed_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    ranked = distributed_rank(
        d, [F.col("n_tok").desc(), F.col("doc_id").asc()], out="r"
    ).withColumn("r0", F.col("r") - 1)
    s = F.lit(SHARD_COUNT)
    assigned = ranked.select(
        "doc_id",
        "n_tok",
        F.when(
            (F.col("r0") / s).cast("bigint") % 2 == 0, F.col("r0") % s
        )
        .otherwise(s - 1 - F.col("r0") % s)
        .cast("int")
        .alias("shard_id"),
    )
    tot = d.agg(F.sum("n_tok").cast("bigint").alias("t"))
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "shard_id",
            "n_docs",
            "tokens",
            F.round(
                F.col("tokens").cast("double") * SHARD_COUNT / F.col("t"), 9
            ).alias("share_of_mean"),
        )
        .orderBy("shard_id")
    )


HIST_BUCKET_W = 10  # token-length bucket width for histogram matching
HIST_BUCKET_CAP = 12  # top bucket absorbs the tail


@query(
    "sample_length_histogram_match",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               least({_SHARD_TOK} // {HIST_BUCKET_W}, {HIST_BUCKET_CAP})
                   AS bucket
        FROM documents
    ),
    b AS (
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_en
        FROM d GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(sum(n_all) AS BIGINT) AS s_tot,
               CAST(sum(n_en) AS BIGINT) AS t_tot
        FROM b
    ),
    c AS (
        SELECT min(CAST(b.n_all AS DOUBLE) * t.t_tot
                   / (CAST(b.n_en AS DOUBLE) * t.s_tot)) AS c
        FROM b CROSS JOIN tot t WHERE b.n_en > 0
    ),
    rates AS (
        SELECT b.bucket, b.n_all, b.n_en,
               CASE WHEN b.n_en = 0 THEN 0.0
                    ELSE c.c * (CAST(b.n_en AS DOUBLE) * t.s_tot)
                         / (CAST(b.n_all AS DOUBLE) * t.t_tot) END AS rate
        FROM b CROSS JOIN tot t CROSS JOIN c
    )
    SELECT r.bucket, r.n_all, r.n_en, round(r.rate, 9) AS accept_rate,
           CAST(count(*) FILTER (
               WHERE CAST(({A} * d.doc_id + {B}) % {P} + 1 AS DOUBLE)
                     / {P + 1} < r.rate) AS BIGINT) AS n_accepted
    FROM rates r JOIN d ON d.bucket = r.bucket
    GROUP BY r.bucket, r.n_all, r.n_en, r.rate
    ORDER BY r.bucket
    """,
    tags=("llm", "sampling", "distribution-matching"),
)
def sample_length_histogram_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram matching by rejection sampling — reshape the corpus's
    token-length distribution to a target's (here: the 'en' slice, the
    "formal register" stand-in): per length bucket, accept with
    probability c * target_share / corpus_share, with c the largest
    constant keeping every rate <= 1 (the bucket already AT the target
    shape accepts everything; over-represented buckets thin). The
    distribution-reshaping sibling of DSIR (which matches n-gram
    distributions) and temperature mixing (which matches source
    shares); acceptance runs on the registry's deterministic LCG so
    the kept set replays bit-for-bit.

    100 TB shape: one bucketed count aggregate (a dozen keys), the
    normalizing constant from that bounded table, then a broadcast-join
    of the rate table back onto the corpus scan — accept/reject is one
    shuffle-free map pass; the only corpus shuffle is the final ledger
    rollup. Rates are ratios of exact bigints through IEEE
    correctly-rounded double ops, so both engines accept identical
    doc_ids."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.least(
            F.size(tokens(F.col("text"))) / HIST_BUCKET_W,
            F.lit(HIST_BUCKET_CAP),
        )
        .cast("bigint")
        .alias("bucket"),
    )
    # scan-once: the bounded bucket table feeds tot, the scale constant,
    # and the rate table — unpinned, Catalyst re-derives the corpus scan
    # per consumer (the r11 plan audit counted 5 parquet scans)
    b = pin(d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_en"),
    ))
    tot = b.agg(
        F.sum("n_all").cast("bigint").alias("s_tot"),
        F.sum("n_en").cast("bigint").alias("t_tot"),
    )
    bt = b.crossJoin(F.broadcast(tot))
    c = bt.filter(F.col("n_en") > 0).agg(
        F.min(
            F.col("n_all").cast("double")
            * F.col("t_tot")
            / (F.col("n_en").cast("double") * F.col("s_tot"))
        ).alias("c")
    )
    rates = bt.crossJoin(F.broadcast(c)).select(
        "bucket",
        "n_all",
        "n_en",
        F.when(F.col("n_en") == 0, F.lit(0.0))
        .otherwise(
            F.col("c")
            * (F.col("n_en").cast("double") * F.col("s_tot"))
            / (F.col("n_all").cast("double") * F.col("t_tot"))
        )
        .alias("rate"),
    )
    u = (
        (F.lit(A).cast("bigint") * F.col("doc_id") + F.lit(B)) % P + 1
    ).cast("double") / F.lit(float(P + 1))
    return (
        d.join(F.broadcast(rates), "bucket")
        .groupBy("bucket", "n_all", "n_en", "rate")
        .agg(
            F.sum(F.when(u < F.col("rate"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_accepted")
        )
        .select(
            "bucket",
            "n_all",
            "n_en",
            F.round("rate", 9).alias("accept_rate"),
            "n_accepted",
        )
        .orderBy("bucket")
    )
