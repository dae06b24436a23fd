"""Similarity search over ``embeddings.embedding`` (SURVEY.md §2.2
"LLM ops": ANN over an embedding column).

Three tiers, all oracle-checked because every "random" ingredient is a
deterministic integer-LCG expression both engines replay bit-for-bit:

* brute-force exact cosine top-k — the baseline; O(Q·N) with the tiny
  query side broadcast (no shuffle of the corpus);
* sign-LSH (random-hyperplane) buckets — replaces the cross join with a
  bucket equi-join; the scale path for pairwise search;
* IVF (inverted-file) — nearest-centroid partitioning with nprobe=2,
  the standard billion-vector layout: candidates shrink by the number
  of centroids, and the corpus assignment is a one-off batch job.

Cosines are sequential double folds (operators/dedup.dot_double) —
bitwise-identical to DuckDB's list_reduce, no decimal needed.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.dedup import dot_double, sql_dot
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query

N_QUERIES = 10  # query set: vec_id < N_QUERIES
TOP_K = 5

# Sign-LSH hyperplanes: coefficient for (plane p, dim d) from an LCG on
# (p*64+d) mapped into [-0.5, 0.5). Integer arithmetic + one double
# division => bit-identical across engines.
LSH_PLANES = 4
LCG_A, LCG_B, LCG_M = 1_103_515_245, 12_345, 2_147_483_648
DIM = 64

CENTROID_STEP = 50  # IVF centroids: vec_id % 50 == 0
N_PROBE = 2
IVF_TOP_K = 3


def _plane_coef(p: int, d: Column) -> Column:
    """LCG coefficient in [-0.5, 0.5) for plane p, dim column d."""
    x = (
        F.lit(LCG_A).cast("bigint") * (F.lit(p * DIM).cast("bigint") + d) + F.lit(LCG_B)
    ) % F.lit(LCG_M)
    return x.cast("double") / F.lit(float(LCG_M)) - F.lit(0.5)


def _sql_plane_coef(p: int, d: str) -> str:
    return (
        f"(CAST(({LCG_A} * CAST(({p * DIM} + {d}) AS BIGINT) + {LCG_B}) % {LCG_M} AS DOUBLE)"
        f" / {float(LCG_M)} - 0.5)"
    )


def lsh_bucket(emb: Column, band: int = 0) -> Column:
    """Bucket id in [0, 2^planes): bit p = sign of plane-p projection.

    ``band`` selects an independent set of hyperplanes (planes
    ``band*LSH_PLANES .. band*LSH_PLANES+LSH_PLANES-1``) so callers can
    union candidates across several bucket sets (multi-band LSH)."""
    bits = []
    for p in range(LSH_PLANES):
        pg = band * LSH_PLANES + p
        # single-parameter lambda ONLY: F.transform passes the array
        # index as a second argument when the callable accepts one, so a
        # `pg=pg` default would be silently overwritten by the index.
        # Plain closure capture is safe — F.transform evaluates the
        # lambda eagerly in this iteration.
        proj = F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda d: _plane_coef(pg, d.cast("bigint"))  # noqa: B023
                * F.element_at(emb, d + 1).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return reduce(lambda a, b: a + b, bits).alias("bucket")


def sql_lsh_bucket(emb: str, band: int = 0) -> str:
    terms = []
    for p in range(LSH_PLANES):
        pg = band * LSH_PLANES + p
        proj = (
            f"(list_reduce(list_transform(range(0, {DIM}), "
            f"d -> {_sql_plane_coef(pg, 'd')} * CAST({emb}[d + 1] AS DOUBLE)), "
            f"(acc, x) -> acc + x) + 0.0)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ),
    scored AS (
        SELECT qid, cid, {sql_dot("qe", "ce")} / (qn * cn) AS cos_sim
        FROM q CROSS JOIN c
    ),
    ranked AS (
        SELECT qid, cid, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}
    ORDER BY qid, rn
    """,
    tags=("llm", "similarity"),
    bench=True,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: tiny query side **broadcast** against the
    corpus scan — one pass over N vectors per batch of queries, no
    corpus shuffle; the per-query top-k window partitions by qid."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), nrm.alias("qn"))
    )
    c = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), nrm.alias("cn"))
    )
    cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        c.crossJoin(F.broadcast(q))
        .select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("qid", "rn")
    )


@query(
    "sim_topk_lsh",
    oracle=f"""
    WITH hashed AS (
        SELECT vec_id, embedding,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm,
               {sql_lsh_bucket("embedding")} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn, bucket FROM hashed
          WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn, bucket FROM hashed
          WHERE vec_id >= {N_QUERIES}),
    scored AS (
        SELECT qid, cid, {sql_dot("qe", "ce")} / (qn * cn) AS cos_sim
        FROM q JOIN c USING (bucket)
    ),
    ranked AS (
        SELECT qid, cid, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}
    ORDER BY qid, rn
    """,
    tags=("llm", "similarity"),
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-k: 4 deterministic hyperplanes → 16
    buckets; candidates share the query's bucket (equi-join on bucket
    key — shuffles 1/16th of the pairs the cross join would). Exact
    re-rank inside the bucket. Recall < 1 by design; the oracle replays
    the same algorithm so results still hash-match."""
    e = load_table(spark, sf_dir, "embeddings")
    hashed = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        lsh_bucket(F.col("embedding")),
    )
    q = hashed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), "bucket",
    )
    c = hashed.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"), "bucket",
    )
    cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        c.join(F.broadcast(q), "bucket")
        .select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("qid", "rn")
    )


@query(
    "sim_ivf_probe",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS cent_e,
               sqrt({sql_dot("embedding", "embedding")}) AS cent_n
        FROM embeddings WHERE vec_id % {CENTROID_STEP} = 0
    ),
    vecs AS (
        SELECT vec_id, embedding,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm
        FROM embeddings
    ),
    assign_scored AS (
        SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {sql_dot("v.embedding", "c.cent_e")} / (v.nrm * c.cent_n) DESC,
                            c.cent_id ASC
               ) AS crn
        FROM vecs v CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, cent_id FROM assign_scored WHERE crn = 1
    ),
    probes AS (
        SELECT vec_id AS qid, embedding AS qe, nrm AS qn, cent_id
        FROM assign_scored WHERE vec_id < {N_QUERIES} AND crn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.qid, a.vec_id AS cid,
               {sql_dot("p.qe", "a.embedding")} / (p.qn * a.nrm) AS cos_sim
        FROM probes p JOIN assigned a USING (cent_id)
        WHERE a.vec_id >= {N_QUERIES}
    ),
    ranked AS (
        SELECT qid, cid, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, cos_sim, rn FROM ranked WHERE rn <= {IVF_TOP_K}
    ORDER BY qid, rn
    """,
    tags=("llm", "similarity"),
)
def sim_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse centroids (every 50th
    vector), corpus assigned to its nearest centroid once (the inverted
    file), queries probe their nprobe=2 nearest centroid lists, exact
    re-rank inside. At scale the assignment is the only corpus-wide
    pass; probing touches ~nprobe/n_centroids of the data, and the
    centroid table is always broadcast-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    # shared frame (scan-leaf lint)
    vecs = pin(e.select("vec_id", "embedding", nrm.alias("nrm")))
    cent = (
        e.filter(F.col("vec_id") % CENTROID_STEP == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_e"),
            nrm.alias("cent_n"),
        )
    )
    cent_cos = dot_double(F.col("embedding"), F.col("cent_e")) / (
        F.col("nrm") * F.col("cent_n")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cent_cos").desc(), F.col("cent_id").asc()
    )
    assign_scored = (
        vecs.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "nrm", "cent_id", cent_cos.alias("cent_cos"))
        .withColumn("crn", F.row_number().over(w_assign))
    )
    assign_scored = pin(assign_scored)  # assignment pass: 2 consumers
    assigned = assign_scored.filter(F.col("crn") == 1).select(
        "vec_id", "embedding", "nrm", "cent_id"
    )
    probes = assign_scored.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("crn") <= N_PROBE)
    ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), "cent_id",
    )
    cos = dot_double(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        assigned.join(F.broadcast(probes), "cent_id")
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("qid", F.col("vec_id").alias("cid"), cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .orderBy("qid", "rn")
    )


_SQL_SQ_CTES = f"""
    ex AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1)) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    dims AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
    rec AS (
        SELECT vec_id, e.i,
               CASE WHEN mx = mn THEN mn
                    ELSE mn + floor((x - mn) * 254.0 / (mx - mn))
                             * (mx - mn) / 254.0
               END AS xr
        FROM ex e JOIN dims d ON e.i = d.i
    ),
    vecs AS (
        SELECT vec_id, array_agg(xr ORDER BY i) AS e8 FROM rec GROUP BY vec_id
    )
"""


@query(
    "sim_topk_sq_int8",
    oracle=f"""
    WITH {_SQL_SQ_CTES},
    q AS (
        SELECT vec_id AS qid, e8 AS qe, sqrt({sql_dot("e8", "e8")}) AS qn
        FROM vecs WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, e8 AS ce, sqrt({sql_dot("e8", "e8")}) AS cn
        FROM vecs WHERE vec_id >= {N_QUERIES}
    ),
    scored AS (
        SELECT qid, cid, {sql_dot("qe", "ce")} / (qn * cn) AS cos_sim
        FROM q CROSS JOIN c
    ),
    ranked AS (
        SELECT qid, cid, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, round(cos_sim, 9) AS cos_sim, rn FROM ranked WHERE rn <= {TOP_K}
    ORDER BY qid, rn
    """,
    tags=("llm", "similarity", "quantization"),
)
def sim_topk_sq_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: per-dimension [min,max] over the corpus →
    255-level (int8-width) codes → dequantized reconstruction → exact
    cosine top-k on the reconstructed vectors. This is the
    memory-bandwidth lever of vector search: 4×-smaller vectors scan
    4× faster at equal recall loss (bounded by (mx−mn)/254 per
    dimension), and the codebook (per-dim min/max, 2 doubles × dims)
    is broadcast-sized at any corpus scale. Pipeline: one posexplode +
    dims-sized hash agg for the codebook, one broadcast join to
    (de)quantize, array re-assembly by sorted struct collect, then the
    same broadcast-query top-k shape as sim_topk_bruteforce. The
    quantize/dequantize arithmetic uses one fixed operation order,
    mirrored in the oracle, so the reconstructed doubles — and hence
    the cosines — match bitwise (rounded to 9 decimals only to absorb
    the final division's last-ulp jitter across summation hardware)."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    dims = ex.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    xr = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn")
        + F.floor((F.col("x") - F.col("mn")) * F.lit(254.0) / (F.col("mx") - F.col("mn")))
        * (F.col("mx") - F.col("mn"))
        / F.lit(254.0)
    )
    rec = ex.join(F.broadcast(dims), "i").select("vec_id", "i", xr.alias("xr"))
    vecs = rec.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "xr"))), lambda s: s.xr
        ).alias("e8")
    )
    vecs = pin(vecs)  # the int8 index; q + corpus sides
    nrm = F.sqrt(dot_double(F.col("e8"), F.col("e8")))
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e8").alias("qe"), nrm.alias("qn")
    )
    c = vecs.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("e8").alias("ce"), nrm.alias("cn")
    )
    cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        c.crossJoin(F.broadcast(q))
        .select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cid", F.round("cos_sim", 9).alias("cos_sim"), "rn")
        .orderBy("qid", "rn")
    )


EMB_DIM = 64  # embeddings.embedding width (fixed by the testdata schema)


@query(
    "embedding_covariance_matrix",
    oracle=f"""
    WITH pairs AS (
        SELECT unnest(flatten(list_transform(range(1, {EMB_DIM} + 1),
                   i -> list_transform(range(i, {EMB_DIM} + 1),
                   j -> {{'i': i, 'j': j,
                          'p': CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[j] AS DOUBLE)}}))))
               AS e
        FROM embeddings
    ),
    sxy AS (
        SELECT CAST(e.i AS INT) AS i, CAST(e.j AS INT) AS j,
               CAST(SUM(CAST(round(e.p, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sp,
               count(*) AS n
        FROM pairs GROUP BY e.i, e.j
    ),
    means AS (
        SELECT CAST(x.i AS INT) AS i,
               CAST(SUM(CAST(round(CAST(x.v AS DOUBLE), 12)
                              AS DECIMAL(38,12))) AS DOUBLE) AS sx
        FROM (
            SELECT unnest(embedding) AS v,
                   unnest(range(1, {EMB_DIM} + 1)) AS i
            FROM embeddings
        ) x
        GROUP BY x.i
    )
    SELECT s.i, s.j,
           s.sp / s.n - (ma.sx / s.n) * (mb.sx / s.n) AS cov
    FROM sxy s
    JOIN means ma ON s.i = ma.i
    JOIN means mb ON s.j = mb.i
    ORDER BY s.i, s.j
    """,
    tags=("llm", "similarity", "linalg"),
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance (Gram) matrix of the embedding corpus —
    the ONE-PASS input every spectral method needs (PCA, whitening,
    SemDeDup's cluster geometry): cov_ij = Σxᵢxⱼ/n − μᵢμⱼ over the
    upper triangle. The d(d+1)/2 products are built ROW-LOCALLY by a
    nested transform over index pairs (no posexplode self-join — the
    corpus is touched once and never joined to itself), then one
    map-side-combinable decimal aggregation reduces to d² skinny
    cells. At 100 TB this is the canonical \"big n, small d\" shape:
    the shuffle carries 2080 partial sums per map task, independent of
    corpus size; the eigen-solve on the collected 64×64 matrix is
    driver-side model fitting (tests/test_tolerance.py runs the power
    iteration and checks against numpy's eigh)."""
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    arr = F.col("embedding")
    pairs = e.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(EMB_DIM)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(EMB_DIM)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at(arr, i).cast("double")
                                * F.element_at(arr, j).cast("double")
                            ).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select(
        F.col("e.i").cast("int").alias("i"),
        F.col("e.j").cast("int").alias("j"),
        F.col("e.p").alias("p"),
    )
    sxy = pairs.groupBy("i", "j").agg(
        F.sum(F.round(F.col("p"), 12).cast("decimal(38,12)")).cast("double").alias("sp"),
        F.count(F.lit(1)).alias("n"),
    )
    means = pin(  # joined for both i and j (scan-leaf lint)
        e.select(F.posexplode(arr).alias("i0", "v"))
        .select((F.col("i0") + 1).cast("int").alias("i"), F.col("v").cast("double").alias("v"))
        .groupBy("i")
        .agg(
            F.sum(F.round(F.col("v"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("sx")
        )
    )
    return (
        sxy.join(means.alias("ma"), sxy["i"] == F.col("ma.i"))
        .join(means.alias("mb"), sxy["j"] == F.col("mb.i"))
        .select(
            sxy["i"],
            sxy["j"],
            (
                F.col("sp") / F.col("n")
                - (F.col("ma.sx") / F.col("n")) * (F.col("mb.sx") / F.col("n"))
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


PQ_M = 16  # subspaces
PQ_K = 64  # centroids per subspace
PQ_TRAIN_MOD = 2  # deterministic training sample: vec_id % MOD == 0
PQ_TRAIN_CAP = 4096  # hard sample bound — collect stays driver-safe at any SF
PQ_LLOYD_ITERS = 10
PQ_SHORTLIST = 50  # ADC candidates re-ranked exactly per query


def _pq_train_codebooks(spark: SparkSession, sf_dir: str):
    """Deterministic PQ codebooks: per subspace, k-means on the
    vec_id%{PQ_TRAIN_MOD}==0 sample (driver-side numpy — bounded model
    fitting, the same posture as graph_pagerank's driver loop), init =
    first K sample rows in vec_id order, {PQ_LLOYD_ITERS} Lloyd steps
    with empty clusters re-seeded to their previous centroid."""
    import numpy as np

    sample = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % PQ_TRAIN_MOD == 0)
        .orderBy("vec_id")
        .limit(PQ_TRAIN_CAP)  # TakeOrdered: bounded driver transfer at any SF
        .select("embedding")
        .collect()
    )
    x = np.array([r["embedding"] for r in sample], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    d = x.shape[1]
    sub = d // PQ_M
    books = np.zeros((PQ_M, PQ_K, sub))
    for m in range(PQ_M):
        xs = x[:, m * sub : (m + 1) * sub]
        c = xs[:PQ_K].copy()
        for _ in range(PQ_LLOYD_ITERS):
            dist = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for k in range(PQ_K):
                mask = assign == k
                if mask.any():
                    c[k] = xs[mask].mean(axis=0)
        books[m] = c
    return books


@query(
    "sim_topk_pq_adc",
    # PQ distances are sample-trained approximations; no SQL twin.
    # Recall vs brute force pinned in tests/test_tolerance.py.
    oracle=None,
    tags=("llm", "similarity", "quantization"),
    scans=(
        "PQ codebook training is a deliberate separate pass before encode+ADC scan (train -> encode is the PQ contract)",
    ),
)
def sim_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    and exact refinement (Jégou et al., PAMI 2011; the IVFADC+R
    layout): each 64-dim vector compresses to {PQ_M} sub-codes
    ({PQ_M}×{PQ_K} codebooks, trained once on a bounded deterministic
    sample and broadcast), a query scores the WHOLE corpus by summing
    {PQ_M} table lookups per vector, and only the {PQ_SHORTLIST}-deep
    ADC shortlist is re-ranked with exact cosines — codes choose the
    candidates, floats decide the winners, and no full-precision
    vector is read outside the shortlist. Vectors are L2-normalized before coding so ADC's
    squared distance is monotone with cosine (d² = 2−2cos) and the
    top-k agrees with the cosine rankers. Encode and score run as
    Arrow-batched numpy over
    mapInPandas; the only corpus shuffle is the per-query top-k rank.
    At 100 TB: codes are 8 bytes/vector (32× smaller than float32),
    the lookup tables are {PQ_K}·{PQ_M} floats per query, and both
    stages are embarrassingly parallel scans."""
    import numpy as np
    import pandas as pd

    books = _pq_train_codebooks(spark, sf_dir)  # (M, K, sub)
    bks = spark.sparkContext.broadcast(books)

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .collect()
    )
    qmat = np.array([r["embedding"] for r in queries], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qids = [r["vec_id"] for r in queries]
    # per-query ADC lookup tables: (Q, M, K) squared sub-distances
    sub = qmat.shape[1] // PQ_M
    luts = np.zeros((len(qids), PQ_M, PQ_K))
    for m in range(PQ_M):
        qs = qmat[:, m * sub : (m + 1) * sub]
        luts[:, m, :] = ((qs[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
    lut_b = spark.sparkContext.broadcast(luts)
    qid_b = spark.sparkContext.broadcast(qids)

    corpus = e.filter(F.col("vec_id") >= N_QUERIES)

    def score(batches):
        books_v = bks.value
        luts_v = lut_b.value
        qids_v = qid_b.value
        s = books_v.shape[2]
        for pdf in batches:
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            x = x / np.linalg.norm(x, axis=1, keepdims=True)
            n = x.shape[0]
            codes = np.zeros((n, PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                xs = x[:, m * s : (m + 1) * s]
                dist = ((xs[:, None, :] - books_v[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = dist.argmin(axis=1)
            # ADC: approx squared distance of every (query, row) pair
            out_qid, out_cid, out_d = [], [], []
            for qi, qid in enumerate(qids_v):
                dd = luts_v[qi][np.arange(PQ_M)[None, :], codes].sum(axis=1)
                out_qid.extend([qid] * n)
                out_cid.extend(pdf["vec_id"].tolist())
                out_d.extend(np.round(dd, 9).tolist())
            yield pd.DataFrame({"qid": out_qid, "cid": out_cid, "adc_dist": out_d})

    scored = corpus.mapInPandas(
        score, schema="qid bigint, cid bigint, adc_dist double"
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("cid"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("qid", "cid", "adc_dist")
    )
    # refine: exact cosine on the tiny shortlist only (the IVFADC+R
    # pattern) — codes choose candidates, floats decide winners
    qdf = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cdf = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    from supabase_etl_spark.operators.dedup import cosine

    wq = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        shortlist.join(cdf, "cid")
        .join(F.broadcast(qdf), "qid")
        .select(
            "qid",
            "cid",
            "adc_dist",
            F.round(cosine(F.col("qe"), F.col("ce")), 9).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cid", "cos_sim", "adc_dist", "rn")
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# ColBERT-style late interaction (MaxSim)

MAXSIM_TOKENS = 8   # sub-vectors per embedding
MAXSIM_SUBDIM = 8   # dims per sub-vector (8 x 8 = the 64-d embedding)
MAXSIM_TOP_K = 3


def _sql_maxsim_slice_dot(q: str, c: str, qj: int, cj: int) -> str:
    """Dot product of sub-vector ``qj`` of ``q`` against sub-vector
    ``cj`` of ``c`` — same sequential list_reduce fold as sql_dot so
    doubles match Spark's aggregate() bitwise."""
    qs = f"list_slice({q}, {qj * MAXSIM_SUBDIM + 1}, {(qj + 1) * MAXSIM_SUBDIM})"
    cs = f"list_slice({c}, {cj * MAXSIM_SUBDIM + 1}, {(cj + 1) * MAXSIM_SUBDIM})"
    return sql_dot(qs, cs)


def _sql_maxsim(q: str, c: str) -> str:
    """Σ_qj max_cj dot(q_j, c_j) with the per-token max over an explicit
    greatest() (order-free) and the token sum through DECIMAL (order-free),
    mirroring the Spark expression term-for-term."""
    per_token = [
        "greatest("
        + ", ".join(_sql_maxsim_slice_dot(q, c, qj, cj) for cj in range(MAXSIM_TOKENS))
        + ")"
        for qj in range(MAXSIM_TOKENS)
    ]
    total = " + ".join(f"CAST({t} AS DECIMAL(38,18))" for t in per_token)
    return f"CAST({total} AS DOUBLE)"


@query(
    "sim_maxsim_late_interaction",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < {MAXSIM_TOP_K + 1}
    ),
    c AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id >= {MAXSIM_TOP_K + 1}
    ),
    scored AS (
        SELECT qid, cid, round({_sql_maxsim("qe", "ce")}, 9) AS maxsim
        FROM q CROSS JOIN c
    ),
    ranked AS (
        SELECT qid, cid, maxsim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, maxsim, rn FROM ranked WHERE rn <= {MAXSIM_TOP_K}
    ORDER BY qid, rn
    """,
    tags=("llm", "similarity"),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval scoring (Khattab &
    Zaharia, SIGIR 2020): a document is a BAG of token vectors, not one
    pooled vector, and relevance is MaxSim — for each query token, the
    best-matching document token's dot product, summed over query
    tokens. Here each 64-d embedding is reshaped into 8 sub-vectors of
    8 dims (the multi-vector plumbing is identical for real per-token
    embeddings; only the slicing differs), the 4-query batch is
    BROADCAST against the corpus scan, and the whole 8x8 max-dot grid
    is pure nested higher-order array expressions — JVM-side, zero
    UDFs, zero corpus shuffles. At 100 TB this is the same shape as
    sim_topk_bruteforce: one corpus pass per query batch, per-query
    top-k. Real deployments put an ANN prefilter (sim_topk_lsh /
    sim_topk_ivf) in front and MaxSim-rescore the shortlist — both
    halves live in this registry. Determinism: per-token max over an
    8-way greatest (order-free), token sum through decimal
    (order-free), each sub-dot a sequential fold matching DuckDB's
    list_reduce bitwise."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(MAXSIM_TOKENS - 1)),
        lambda j: F.slice(emb, j * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM),
    )
    n_q = MAXSIM_TOP_K + 1
    q = e.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"), toks.alias("qt")
    )
    c = e.filter(F.col("vec_id") >= n_q).select(
        F.col("vec_id").alias("cid"), toks.alias("ct")
    )

    def subdot(qv: Column, cv: Column) -> Column:
        return (
            F.aggregate(
                F.zip_with(qv, cv, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            + F.lit(0.0)
        )

    # decimal addition widens (38,18)+(38,18) -> (38,17); cast the fold
    # result back so the accumulator type stays fixed. 20 integer
    # digits are far beyond any |maxsim| here, so the cast never
    # truncates and the sum stays exact and order-free.
    maxsim = F.aggregate(
        F.col("qt"),
        F.lit(0).cast("decimal(38,18)"),
        lambda acc, qv: (
            acc
            + F.array_max(F.transform(F.col("ct"), lambda cv: subdot(qv, cv))).cast(
                "decimal(38,18)"
            )
        ).cast("decimal(38,18)"),
    ).cast("double")
    w = Window.partitionBy("qid").orderBy(F.col("maxsim").desc(), F.col("cid").asc())
    return (
        c.crossJoin(F.broadcast(q))
        .select("qid", "cid", F.round(maxsim, 9).alias("maxsim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAXSIM_TOP_K)
        .orderBy("qid", "rn")
    )


JL_DIM = 16  # random-projection target dimensionality


def _jl_matrix() -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003: Rademacher
    entries satisfy the JL lemma like Gaussians do, and cost one
    multiply-free sign flip per element). LCG-seeded so both engines
    replay the identical matrix from the literal below."""
    rows = []
    seed = 20260814
    for _ in range(JL_DIM):
        row = []
        for _ in range(EMB_DIM):
            seed = (1103515245 * seed + 12345) % 2_147_483_648
            row.append(1 if (seed >> 16) % 2 == 0 else -1)
        rows.append(row)
    return rows


def _jl_sql() -> str:
    m = _jl_matrix()
    rlit = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in m
    ) + "]"
    cols = ",\n           ".join(
        f"""round(list_reduce(list_transform(range(1, {EMB_DIM} + 1),
               i -> CAST(embedding[i] AS DOUBLE) * ({rlit})[{j + 1}][i]),
               (a, b) -> a + b) / 4.0, 9) AS p{j}"""
        for j in range(JL_DIM)
    )
    return f"""
    SELECT vec_id,
           {cols}
    FROM embeddings
    ORDER BY vec_id
    """


@query(
    "sim_random_projection",
    oracle=_jl_sql(),
    tags=("llm", "similarity", "embedding"),
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas ±1 variant):
    64-d embeddings down to {JL}-d with distances preserved within
    (1±ε) w.h.p. — the standard pre-step that makes downstream ANN /
    clustering pay {JL}/64 of the distance-arithmetic cost. The
    projection matrix is a broadcast-free LITERAL (16x64 signs, ~1 KiB
    folded into the plan as a constant array) and each output
    component is a row-local zip_with/aggregate fold over the input
    vector — zero shuffles, zero UDFs, whole-stage codegen end to end;
    at 100 TB this is a pure map over the corpus scan. Scaling is
    1/sqrt(k) = 1/4. Output is the 16 projected components as flat
    columns, every value pinned by the oracle replaying the identical
    literal matrix and sequential fold."""
    m = _jl_matrix()
    rlit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(str(v) for v in row) + ")" for row in m
        )
        + ")"
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    ).withColumn("R", rlit)
    proj_cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("x"),
                    F.element_at(F.col("R"), j + 1),
                    lambda a, b: a * b.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / 4.0,
            9,
        ).alias(f"p{j}")
        for j in range(JL_DIM)
    ]
    return e.select("vec_id", *proj_cols).orderBy("vec_id")


MRL_DIM = 16  # truncated (matryoshka) prefix dimensionality


def _sql_dot_prefix(a: str, b: str, k: int) -> str:
    return (
        f"(list_reduce(list_transform(range(1, {k} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(acc, x) -> acc + x) + 0.0)"
    )


@query(
    "sim_matryoshka_recall_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               sqrt({sql_dot("embedding", "embedding")}) AS qn,
               sqrt({_sql_dot_prefix("embedding", "embedding", MRL_DIM)}) AS qnt
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce,
               sqrt({sql_dot("embedding", "embedding")}) AS cn,
               sqrt({_sql_dot_prefix("embedding", "embedding", MRL_DIM)}) AS cnt
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ),
    scored AS (
        SELECT qid, cid,
               {sql_dot("qe", "ce")} / (qn * cn) AS cos_full,
               {_sql_dot_prefix("qe", "ce", MRL_DIM)} / (qnt * cnt) AS cos_trunc
        FROM q CROSS JOIN c
    ),
    rf AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_full DESC, cid ASC) AS rn
        FROM scored
    ),
    rt AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_trunc DESC, cid ASC) AS rn
        FROM scored
    ),
    hits AS (
        SELECT rf.qid, count(*) AS n_overlap
        FROM rf JOIN rt ON rf.qid = rt.qid AND rf.cid = rt.cid
        WHERE rf.rn <= {TOP_K} AND rt.rn <= {TOP_K}
        GROUP BY rf.qid
    )
    SELECT q.qid AS qid,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(COALESCE(h.n_overlap, 0) / CAST({TOP_K} AS DOUBLE), 6)
               AS recall_at_k
    FROM q LEFT JOIN hits h ON q.qid = h.qid
    ORDER BY q.qid
    """,
    tags=("llm", "similarity", "calibration"),
)
def sim_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation RECALL evaluation (Kusupati et al. 2022
    MRL: nested-prefix embeddings let retrieval run at a fraction of
    the dimensionality): rank the corpus by full-64d cosine and by
    first-16-dims cosine in ONE scored pass (both dots computed per
    candidate row; no second corpus scan), then report per-query
    top-k overlap — the recall@k number that decides whether the
    cheap prefix index is usable as the first stage of a
    retrieve-then-rerank pipeline. Same broadcast-queries x corpus
    shape as sim_topk_bruteforce; the eval adds only per-query windows
    over N_QUERIES x TOP_K rows."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    full_n = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    trunc = F.slice(F.col("embedding"), 1, MRL_DIM)
    trunc_n = F.sqrt(dot_double(trunc, trunc))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        full_n.alias("qn"),
        trunc_n.alias("qnt"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        full_n.alias("cn"),
        trunc_n.alias("cnt"),
    )
    cos_full = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    cos_trunc = dot_double(
        F.slice(F.col("qe"), 1, MRL_DIM), F.slice(F.col("ce"), 1, MRL_DIM)
    ) / (F.col("qnt") * F.col("cnt"))
    q = pin(q)  # broadcast side + final spine (scan-leaf lint)
    scored = pin(c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", cos_full.alias("cos_full"), cos_trunc.alias("cos_trunc")
    ))  # both ranking passes (scan-leaf lint)
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("cid"))
    wt = Window.partitionBy("qid").orderBy(F.desc("cos_trunc"), F.asc("cid"))
    rf = scored.withColumn("rn", F.row_number().over(wf)).filter(
        F.col("rn") <= TOP_K
    ).select("qid", "cid")
    rt = scored.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= TOP_K
    ).select("qid", "cid")
    hits = rf.join(rt, ["qid", "cid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_overlap", F.lit(0).cast("bigint")).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.lit(float(TOP_K)), 6
            ).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


@query(
    "sim_topk_gemm_blocked",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ),
    scored AS (
        SELECT qid, cid, {sql_dot("qe", "ce")} / (qn * cn) AS cos_sim
        FROM q CROSS JOIN c
    ),
    ranked AS (
        SELECT qid, cid, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, round(cos_sim, 9) AS cos_sim, rn
    FROM ranked WHERE rn <= {TOP_K}
    ORDER BY qid, rn
    """,
    tags=("llm", "similarity"),
)
def sim_topk_gemm_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k as a blocked GEMM — the production kernel for
    brute-force retrieval: the normalized query matrix rides into an
    Arrow `mapInPandas`, each corpus batch does ONE numpy matmul
    (batch x dim @ dim x n_queries, BLAS-vectorized) and emits only its
    per-query partial top-k. sim_topk_bruteforce expresses the same
    query as a broadcast join + fold (whole-stage codegen); this is the
    batched-native alternative that wins when dim is large enough that
    a per-row fold stops being competitive with BLAS.

    Scale: the corpus scan is embarrassingly parallel (no shuffle); the
    only shuffled rows are the partials — n_batches x n_queries x k,
    corpus-size-independent given bounded batches. The query side is a
    bounded driver fetch (N_QUERIES rows, same cap as the other sim_*
    ops). The global merge is a window over partials keyed by qid.

    Determinism: BLAS accumulation order != the oracle's sequential
    fold, so scores agree only to ~1e-15 relative; the gate compares
    round(cos_sim, 9), and ranking uses the unrounded double with a cid
    tie-break (distinct random vectors never sit within float-noise of
    each other at the k boundary, which sf0.01's green hash certifies
    for the fixed testdata)."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    # bounded driver fetch: exactly N_QUERIES rows
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
    bc = spark.sparkContext.broadcast((qids, qmat))

    def gemm_topk(batches):
        b_qids, b_q = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            s = x @ b_q.T  # (batch, n_queries) — one BLAS call per batch
            k = min(TOP_K, s.shape[0])
            out_qid, out_cid, out_cos = [], [], []
            for j in range(s.shape[1]):
                col = s[:, j]
                # partial top-k inside the batch: argpartition then
                # exact (-score, cid) order among the k survivors
                idx = np.argpartition(-col, k - 1)[:k] if k < col.shape[0] else np.arange(col.shape[0])
                order = idx[np.lexsort((cids[idx], -col[idx]))]
                out_qid.extend([b_qids[j]] * len(order))
                out_cid.extend(cids[order])
                out_cos.extend(col[order])
            yield pd.DataFrame(
                {"qid": out_qid, "cid": out_cid, "cos_sim": out_cos}
            )

    partials = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "embedding")
        .mapInPandas(gemm_topk, schema="qid long, cid long, cos_sim double")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        partials.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cid", F.round("cos_sim", 9).alias("cos_sim"), "rn")
        .orderBy("qid", "rn")
    )


DBSCAN_EPS = 0.04  # neighborhood radius in the projected plane
DBSCAN_EPS2 = DBSCAN_EPS * DBSCAN_EPS  # python-double, injected verbatim
DBSCAN_MINPTS = 4  # core threshold, counting the point itself


def _dbscan_sql() -> str:
    m = _jl_matrix()[:2]
    rlit = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in m
    ) + "]"

    def proj(j: int) -> str:
        return (
            f"round(list_reduce(list_transform(range(1, {EMB_DIM} + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({rlit})[{j + 1}][i]), "
            f"(a, b) -> a + b) / 4.0, 9)"
        )

    eps = f"CAST({DBSCAN_EPS!r} AS DOUBLE)"
    eps2 = f"CAST({DBSCAN_EPS2!r} AS DOUBLE)"
    return f"""
    WITH RECURSIVE pts AS (
        SELECT vec_id, {proj(0)} AS x, {proj(1)} AS y
        FROM embeddings
    ),
    cells AS (
        SELECT vec_id, x, y,
               CAST(floor(x / {eps}) AS BIGINT) AS cx,
               CAST(floor(y / {eps}) AS BIGINT) AS cy
        FROM pts
    ),
    probe AS (
        SELECT c.vec_id, c.x, c.y, c.cx + dx.d AS pcx, c.cy + dy.d AS pcy
        FROM cells c,
             (SELECT unnest([-1, 0, 1]) AS d) dx,
             (SELECT unnest([-1, 0, 1]) AS d) dy
    ),
    nbr AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM probe a JOIN cells b ON a.pcx = b.cx AND a.pcy = b.cy
        WHERE a.vec_id <> b.vec_id
          AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {eps2}
    ),
    core AS (
        SELECT ida AS vec_id FROM nbr GROUP BY ida
        HAVING count(*) + 1 >= {DBSCAN_MINPTS}
    ),
    edges AS (
        SELECT n.ida, n.idb FROM nbr n
        JOIN core ca ON n.ida = ca.vec_id
        JOIN core cb ON n.idb = cb.vec_id
    ),
    reach(a, b) AS (
        SELECT vec_id, vec_id FROM core
        UNION
        SELECT r.a, e.idb FROM reach r JOIN edges e ON r.b = e.ida
    ),
    comp AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
    border AS (
        SELECT n.ida AS vec_id, min(c.cluster_id) AS cluster_id
        FROM nbr n JOIN comp c ON n.idb = c.vec_id
        WHERE n.ida NOT IN (SELECT vec_id FROM core)
        GROUP BY n.ida
    )
    SELECT p.vec_id,
           CASE WHEN comp.vec_id IS NOT NULL THEN 'core'
                WHEN border.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(comp.cluster_id, border.cluster_id) AS cluster_id
    FROM pts p
    LEFT JOIN comp ON p.vec_id = comp.vec_id
    LEFT JOIN border ON p.vec_id = border.vec_id
    ORDER BY p.vec_id
    """


@query(
    "embedding_dbscan_grid",
    oracle=_dbscan_sql(),
    tags=("llm", "embedding", "clustering", "iterative"),
)
def embedding_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed DBSCAN over the JL-projected plane: density
    clustering with core/border/noise roles — the non-parametric
    counterpart to the k-means family (finds arbitrary-shape clusters,
    needs no k, flags outliers as noise). Pipeline: project to 2-D with
    the literal Achlioptas matrix (round-9 coordinates so every
    downstream comparison is bit-identical cross-engine), bucket into
    eps-sized grid cells, generate neighbor candidates via each point's
    3x3 cell probe (cell size = eps guarantees every true neighbor is
    adjacent — NEVER an all-pairs join), count eps-neighbors for core
    status, and label core components with the connected-components
    operator (operators/cc.py: driver union-find below its edge cap,
    above it Kiveris 2014 large-star/small-star alternation, log-round
    where one-hop-per-round propagation would need diameter rounds,
    measured 23 on this graph's density chains; a 200-chain converges
    in 9 star rounds). Borders adopt the min core-neighbor's cluster;
    everything else is noise.

    Scale: candidate volume is sum of 9-cell occupancies (data-local
    at any corpus size for fixed density); the CC loop shuffles
    edge-sized rows log-many times; nothing is quadratic beyond cell
    occupancy, the same bound every spatial index gives. The recursive
    oracle replays reachability over the same core edges."""
    m = _jl_matrix()[:2]
    rlit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(str(v) for v in row) + ")" for row in m
        )
        + ")"
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("xv")
    ).withColumn("R", rlit)

    def proj(j: int):
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col("xv"),
                    F.element_at(F.col("R"), j + 1),
                    lambda a, b: a * b.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / 4.0,
            9,
        )

    eps, eps2 = F.lit(float(DBSCAN_EPS)), F.lit(float(DBSCAN_EPS2))
    pts = e.select("vec_id", proj(0).alias("x"), proj(1).alias("y")).select(
        "vec_id",
        "x",
        "y",
        F.floor(F.col("x") / eps).cast("bigint").alias("cx"),
        F.floor(F.col("y") / eps).cast("bigint").alias("cy"),
    )
    pts = pin(pts)  # probe, build, final spine (scan-leaf lint)
    offs = F.expr("array(-1, 0, 1)")
    probe = (
        pts.select("vec_id", "x", "y", "cx", "cy", F.explode(offs).alias("dx"))
        .select("vec_id", "x", "y", "cx", "cy", "dx", F.explode(offs).alias("dy"))
        .select(
            F.col("vec_id").alias("ida"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.col("cx") + F.col("dx")).alias("pcx"),
            (F.col("cy") + F.col("dy")).alias("pcy"),
        )
    )
    right = pts.select(
        F.col("vec_id").alias("idb"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("pcx"),
        F.col("cy").alias("pcy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    nbr = (
        probe.join(right, ["pcx", "pcy"])
        .filter((F.col("ida") != F.col("idb")) & (d2 <= eps2))
        .select("ida", "idb")
    )
    nbr = pin(nbr)  # cnt, edges, border (scan-leaf lint)
    cnt = nbr.groupBy("ida").agg(F.count(F.lit(1)).alias("n"))
    core = cnt.filter(F.col("n") + 1 >= DBSCAN_MINPTS).select(
        F.col("ida").alias("node")
    )
    edges = (
        nbr.join(core.select(F.col("node").alias("ida")), "ida")
        .join(core.select(F.col("node").alias("idb")), "idb")
        .select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
    )
    from supabase_etl_spark.operators.cc import connected_components

    comp = connected_components(core, edges).select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )
    border = (
        nbr.join(comp.select(F.col("vec_id").alias("idb"), "cluster_id"), "idb")
        .join(core.select(F.col("node").alias("ida")), "ida", "left_anti")
        .groupBy(F.col("ida").alias("vec_id"))
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    return (
        pts.select("vec_id")
        .join(comp.withColumnRenamed("cluster_id", "c_cluster"), "vec_id", "left")
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("c_cluster").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("c_cluster", "b_cluster").alias("cluster_id"),
        )
        .orderBy("vec_id")
    )


MAT_DIM = 16  # Matryoshka truncation width (prefix dims of the embedding)


@query(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe, embedding[1:{MAT_DIM}] AS qe16,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce, embedding[1:{MAT_DIM}] AS ce16,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ),
    full_rank AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {sql_dot("qe", "ce")} / (qn * cn) DESC, cid ASC) AS rn
        FROM q CROSS JOIN c
    ),
    trunc_rank AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {sql_dot("qe16", "ce16")}
                            / (sqrt({sql_dot("qe16", "qe16")})
                               * sqrt({sql_dot("ce16", "ce16")})) DESC, cid ASC) AS rn
        FROM q CROSS JOIN c
    ),
    hits AS (
        SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM (SELECT qid, cid FROM full_rank WHERE rn <= {TOP_K}) f
        JOIN (SELECT qid, cid FROM trunc_rank WHERE rn <= {TOP_K}) t
          ON f.qid = t.qid AND f.cid = t.cid
        GROUP BY f.qid
    )
    SELECT q.qid,
           COALESCE(h.n_common, 0) AS n_common,
           CAST(COALESCE(h.n_common, 0) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM (SELECT DISTINCT qid FROM q) q
    LEFT JOIN hits h ON q.qid = h.qid
    ORDER BY q.qid
    """,
    tags=("llm", "similarity"),
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality check: recall@k of cosine top-k
    computed on the FIRST 16 embedding dims against the exact 64-dim
    top-k. This is the eval every nested-representation deployment runs
    before serving truncated vectors (store 4x less, prune with the
    prefix, re-rank with the full width). Both rankings are the
    broadcast-query brute-force shape — the corpus is scanned, never
    shuffled — and the overlap join is Q·k-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.slice("embedding", 1, MAT_DIM).alias("qe16"),
        nrm.alias("qn"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.slice("embedding", 1, MAT_DIM).alias("ce16"),
        nrm.alias("cn"),
    )
    q = pin(q)  # broadcast side + final spine (scan-leaf lint)
    base = pin(c.crossJoin(F.broadcast(q)))  # both ranking passes (scan-leaf lint)

    def topk(score, name: str) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(F.col(name).desc(), F.col("cid").asc())
        return (
            base.select("qid", "cid", score.alias(name))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "cid")
        )

    full_cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    trunc_cos = dot_double(F.col("qe16"), F.col("ce16")) / (
        F.sqrt(dot_double(F.col("qe16"), F.col("qe16")))
        * F.sqrt(dot_double(F.col("ce16"), F.col("ce16")))
    )
    hits = (
        topk(full_cos, "cos_full")
        .join(topk(trunc_cos, "cos_trunc"), ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        q.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            (F.coalesce("n_common", F.lit(0)).cast("double") / TOP_K).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


def _sql_pca_iter(prev_v: str, idx: int) -> str:
    """One power-iteration round as oracle CTEs: w = G·v (decimal sums),
    nrm = ||w||, v = w/nrm."""
    return f"""
    w{idx} AS (
        SELECT gm.i, CAST(SUM(CAST(round(gm.g * {prev_v}.v, 12)
                                   AS DECIMAL(38,12))) AS DOUBLE) AS w
        FROM gm JOIN {prev_v} ON gm.j = {prev_v}.i GROUP BY gm.i
    ),
    n{idx} AS (
        SELECT sqrt(CAST(SUM(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        FROM w{idx}
    ),
    v{idx} AS (SELECT i, w / (SELECT nrm FROM n{idx}) AS v FROM w{idx})"""


@query(
    "embedding_pca_power",
    oracle=f"""
    WITH pairs AS (
        SELECT unnest(flatten(list_transform(range(1, {EMB_DIM} + 1),
                   i -> list_transform(range(i, {EMB_DIM} + 1),
                   j -> {{'i': i, 'j': j,
                          'p': CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[j] AS DOUBLE)}}))))
               AS e
        FROM embeddings
    ),
    gu AS (
        SELECT CAST(e.i AS INT) AS i, CAST(e.j AS INT) AS j,
               CAST(SUM(CAST(round(e.p, 12) AS DECIMAL(38,12))) AS DOUBLE)
                   / (SELECT COUNT(*) FROM embeddings) AS g
        FROM pairs GROUP BY e.i, e.j
    ),
    gm AS (
        SELECT i, j, g FROM gu
        UNION ALL
        SELECT j AS i, i AS j, g FROM gu WHERE i < j
    ),
    v0 AS (SELECT CAST(x.i AS INT) AS i, 0.125 AS v
           FROM (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) x),
    {_sql_pca_iter("v0", 1)},
    {_sql_pca_iter("v1", 2)},
    {_sql_pca_iter("v2", 3)}
    SELECT v3.i AS dim, v3.v AS loading, (SELECT nrm FROM n3) AS eigenvalue
    FROM v3 WHERE v3.i <= 8
    ORDER BY dim
    """,
    tags=("llm", "similarity", "linalg"),
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA top component via power iteration, entirely in
    the engine: the uncentered Gram matrix G = Σ e·eᵀ/n comes from the
    same row-local upper-triangle pass as embedding_covariance_matrix
    (one corpus scan, d² partial sums), then three rounds of
    v ← G·v/||G·v|| run as joins+aggregations on the d²-sized matrix
    table — corpus size never appears again. The returned eigenvalue
    is ||G·v₂|| (the Rayleigh norm of the last iterate; G is PSD so
    the power sequence is monotone). Starting vector 1/8·1 is exact
    binary, every G·v term is round-12 decimal-summed, so three
    iterations stay bit-identical across engines. At 100 TB the Gram
    pass is the only data-sized stage — the iteration cost is d²,
    whether d=64 or d=4096."""
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    n_tot = e.agg(F.count(F.lit(1)).alias("n"))
    arr = F.col("embedding")
    pairs = e.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(EMB_DIM)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(EMB_DIM)),
                        lambda j: F.struct(
                            i.cast("int").alias("i"),
                            j.cast("int").alias("j"),
                            (
                                F.element_at(arr, i).cast("double")
                                * F.element_at(arr, j).cast("double")
                            ).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.p")
    gu = (
        pairs.groupBy("i", "j")
        .agg(F.sum(F.round(F.col("p"), 12).cast("decimal(38,12)")).cast("double").alias("sp"))
        .crossJoin(F.broadcast(n_tot))
        .select("i", "j", (F.col("sp") / F.col("n")).alias("g"))
    )
    # Pin the d²-sized matrix table: it feeds every iteration, and
    # without the pin Catalyst re-derives the corpus Gram pass per
    # consumer — the plan read 84 parquet-scan leaves (the lint's worst
    # catch). After the pin the corpus is scanned once, as the
    # docstring always claimed.
    gu = pin(gu)
    gm = gu.unionByName(
        gu.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    v = spark.range(1, EMB_DIM + 1).select(
        F.col("id").cast("int").alias("i"), F.lit(0.125).alias("v")
    )
    nrm = None
    for _ in range(3):
        # w and nrm are d-row / 1-row tables each consumed twice per
        # round (nrm + next v, v + eigenvalue): pin per iteration or
        # the lineage doubles every round.
        w = pin(
            gm.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                F.sum(F.round(F.col("g") * F.col("v"), 12).cast("decimal(38,12)"))
                .cast("double")
                .alias("w")
            )
        )
        nrm = pin(w.agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w"), 12).cast("decimal(38,12)")).cast(
                    "double"
                )
            ).alias("nrm")
        ))
        v = w.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("w") / F.col("nrm")).alias("v")
        )
    return (
        v.crossJoin(F.broadcast(nrm))
        .filter(F.col("i") <= 8)
        .select(F.col("i").alias("dim"), F.col("v").alias("loading"), F.col("nrm").alias("eigenvalue"))
        .orderBy("dim")
    )


@query(
    "sim_ivf_recall_curve",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS cent_e,
               sqrt({sql_dot("embedding", "embedding")}) AS cent_n
        FROM embeddings WHERE vec_id % {CENTROID_STEP} = 0
    ),
    vecs AS (
        SELECT vec_id, embedding,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm
        FROM embeddings
    ),
    assign_scored AS (
        SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {sql_dot("v.embedding", "c.cent_e")} / (v.nrm * c.cent_n) DESC,
                            c.cent_id ASC
               ) AS crn
        FROM vecs v CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, cent_id FROM assign_scored WHERE crn = 1
    ),
    sweeps AS (SELECT CAST(np AS BIGINT) AS nprobe FROM UNNEST(range(1, 4)) AS t(np)),
    probes AS (
        SELECT s.nprobe, a.vec_id AS qid, a.embedding AS qe, a.nrm AS qn, a.cent_id
        FROM assign_scored a CROSS JOIN sweeps s
        WHERE a.vec_id < {N_QUERIES} AND a.crn <= s.nprobe
    ),
    scored AS (
        SELECT p.nprobe, p.qid, a.vec_id AS cid,
               {sql_dot("p.qe", "a.embedding")} / (p.qn * a.nrm) AS cos_sim
        FROM probes p JOIN assigned a USING (cent_id)
        WHERE a.vec_id >= {N_QUERIES}
    ),
    approx AS (
        SELECT nprobe, qid, cid FROM (
            SELECT nprobe, qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY nprobe, qid
                                      ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM scored
        ) WHERE rn <= {IVF_TOP_K}
    ),
    exact AS (
        SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {sql_dot("q.embedding", "c.embedding")}
                                / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
            FROM vecs q CROSS JOIN vecs c
            WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE rn <= {IVF_TOP_K}
    )
    SELECT s.nprobe,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS total_hits,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / ({N_QUERIES} * {IVF_TOP_K})
               AS mean_recall
    FROM sweeps s
    LEFT JOIN (
        SELECT a.nprobe, CAST(COUNT(*) AS BIGINT) AS hits
        FROM approx a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
        GROUP BY a.nprobe
    ) h ON s.nprobe = h.nprobe
    ORDER BY s.nprobe
    """,
    tags=("llm", "similarity", "ml-eval"),
)
def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe curve for the IVF index: sweep nprobe 1..3 and
    measure top-k overlap against the exact ranking — the tuning table
    every ANN deployment publishes (latency grows with nprobe, recall
    saturates; the knee picks the operating point). The sweep reuses
    ONE centroid-assignment pass; each probe level is a filter on the
    assignment rank, so the marginal cost per curve point is only the
    candidate re-rank. Both the index and the exact reference are
    deterministic, making the whole curve value-hashable."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    # shared frame (scan-leaf lint)
    vecs = pin(e.select("vec_id", "embedding", nrm.alias("nrm")))
    cent = vecs.filter(F.col("vec_id") % CENTROID_STEP == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_e"),
        F.col("nrm").alias("cent_n"),
    )
    ccos = dot_double(F.col("embedding"), F.col("cent_e")) / (F.col("nrm") * F.col("cent_n"))
    wassign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    assign_scored = (
        vecs.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "nrm", "cent_id", ccos.alias("ccos"))
        .withColumn("crn", F.row_number().over(wassign))
    )
    assign_scored = pin(assign_scored)  # assignment pass: 2 consumers
    assigned = assign_scored.filter(F.col("crn") == 1).select(
        "vec_id", "embedding", "nrm", "cent_id"
    )
    sweeps = spark.range(1, 4).select(F.col("id").alias("nprobe"))
    probes = (
        assign_scored.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(sweeps))
        .filter(F.col("crn") <= F.col("nprobe"))
        .select(
            "nprobe",
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
            "cent_id",
        )
    )
    scos = dot_double(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm"))
    wrank = Window.partitionBy("nprobe", "qid").orderBy(
        F.col("cos_sim").desc(), F.col("cid").asc()
    )
    approx = (
        probes.join(
            assigned.select(
                F.col("vec_id").alias("cid"), "embedding", "nrm", "cent_id"
            ),
            "cent_id",
        )
        .filter(F.col("cid") >= N_QUERIES)
        .select("nprobe", "qid", "cid", scos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") <= IVF_TOP_K)
        .select("nprobe", "qid", "cid")
    )
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    c = vecs.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    ecos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    wex = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    exact = (
        c.crossJoin(F.broadcast(q))
        .select("qid", "cid", ecos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(wex))
        .filter(F.col("rn") <= IVF_TOP_K)
        .select("qid", "cid")
    )
    hits = approx.join(exact, ["qid", "cid"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return (
        sweeps.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("total_hits"),
            (
                F.coalesce("hits", F.lit(0)).cast("double") / (N_QUERIES * IVF_TOP_K)
            ).alias("mean_recall"),
        )
        .orderBy("nprobe")
    )


def _sql_ff_round(prev_d: str, cent: str, idx: int) -> str:
    """One farthest-first round as oracle CTEs: fold the new center's
    distance into the running min, then take the argmax (min vec_id on
    ties)."""
    return f"""
    d{idx} AS (
        SELECT v.vec_id, v.embedding, v.nrm,
               LEAST(v.d,
                     1.0 - {sql_dot("v.embedding", "cc.ce")}
                           / (v.nrm * cc.cn)) AS d
        FROM {prev_d} v CROSS JOIN {cent} cc
    ),
    m{idx} AS (SELECT MAX(d) AS mx FROM d{idx}),
    c{idx} AS (
        SELECT MIN(vec_id) AS center_id, MAX(d.d) AS dist
        FROM d{idx} d CROSS JOIN m{idx} WHERE d.d = m{idx}.mx
    ),
    ce{idx} AS (
        SELECT d.embedding AS ce, d.nrm AS cn
        FROM d{idx} d JOIN c{idx} ON d.vec_id = c{idx}.center_id
    )"""


@query(
    "embedding_farthest_first_init",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, embedding,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm
        FROM embeddings
    ),
    ce0 AS (
        SELECT embedding AS ce, nrm AS cn FROM vecs WHERE vec_id = 0
    ),
    d0 AS (
        SELECT vec_id, embedding, nrm, CAST(2.0 AS DOUBLE) AS d FROM vecs
    ),
    {_sql_ff_round("d0", "ce0", 1)},
    {_sql_ff_round("d1", "ce1", 2)},
    {_sql_ff_round("d2", "ce2", 3)}
    SELECT 0 AS round, CAST(0 AS BIGINT) AS center_id, 0.0 AS dist
    UNION ALL SELECT 1, center_id, round(dist, 9) FROM c1
    UNION ALL SELECT 2, center_id, round(dist, 9) FROM c2
    UNION ALL SELECT 3, center_id, round(dist, 9) FROM c3
    ORDER BY round
    """,
    tags=("llm", "similarity", "clustering"),
)
def embedding_farthest_first_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first (k-center / Gonzalez) seeding — the deterministic
    cousin of k-means++ used when init must be replayable: start from
    vector 0, then three rounds of "pick the point maximizing its
    min cosine distance to the chosen set". Each round is one broadcast
    of the new 1-row center, one corpus map updating the running min
    distance, and one argmax reduction — k rounds cost k corpus passes
    with nothing but scalars shuffled, the standard seeding shape
    before a Lloyd run (embedding_kmeans_lloyd). Ties break to the
    smallest vec_id, so the chosen set is exact in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    vecs = e.select("vec_id", "embedding", nrm.alias("nrm"))
    d = vecs.withColumn("d", F.lit(2.0))
    cent = vecs.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    rows = [(0, 0, 0.0)]
    out = None
    for rnd in range(1, 4):
        nd = F.least(
            F.col("d"),
            F.lit(1.0)
            - dot_double(F.col("embedding"), F.col("ce")) / (F.col("nrm") * F.col("cn")),
        )
        # d is consumed 4× per round (max probe, argmax, picked-center
        # join, next round's update) and c twice — without pins the
        # corpus lineage multiplies 4× per round (the plan read 84 scan
        # leaves). Pinned, each round is exactly one pass over the
        # running-distance table, the k-pass shape the docstring
        # describes.
        d = pin(d.crossJoin(F.broadcast(cent)).select(
            "vec_id", "embedding", "nrm", nd.alias("d")
        ))
        mx = d.agg(F.max("d").alias("mx"))
        c = pin(
            d.crossJoin(F.broadcast(mx))
            .filter(F.col("d") == F.col("mx"))
            .agg(F.min("vec_id").alias("center_id"), F.max("d").alias("dist"))
        )
        picked = d.join(
            F.broadcast(c), d["vec_id"] == c["center_id"]
        ).select(F.col("embedding").alias("ce"), F.col("nrm").alias("cn"))
        row = c.select(
            F.lit(rnd).alias("round"),
            F.col("center_id"),
            F.round("dist", 9).alias("dist"),
        )
        out = row if out is None else out.unionByName(row)
        cent = picked
    first = e.sparkSession.createDataFrame(
        [(0, 0, 0.0)], "round int, center_id bigint, dist double"
    )
    return first.unionByName(out).orderBy("round")


MMR_QUERIES = 5
MMR_POOL = 10
MMR_PICKS = 3
MMR_LAMBDA = 0.7


def _sql_mmr_round(sel_list: str, idx: int) -> str:
    """One MMR greedy round: candidates not yet selected score
    λ·rel − (1−λ)·max-sim-to-selected; argmax per query (ties → min
    cid)."""
    return f"""
    mx{idx} AS (
        SELECT p.qid, p.cid, p.rel,
               MAX({sql_dot("p.ce", "s.ce")} / (p.cn * s.cn)) AS maxsim
        FROM pool p
        JOIN {sel_list} s ON p.qid = s.qid AND p.cid NOT IN (SELECT cid FROM {sel_list} s2 WHERE s2.qid = p.qid)
        GROUP BY p.qid, p.cid, p.rel
    ),
    sc{idx} AS (
        SELECT qid, cid, rel,
               {MMR_LAMBDA} * rel - {round(1.0 - MMR_LAMBDA, 10)} * maxsim AS score,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {MMR_LAMBDA} * rel - {round(1.0 - MMR_LAMBDA, 10)} * maxsim DESC,
                            cid ASC) AS rn
        FROM mx{idx}
    ),
    pick{idx} AS (
        SELECT qid, cid, CAST({idx} AS BIGINT) AS pick_rank, score
        FROM sc{idx} WHERE rn = 1
    ),
    sel{idx} AS (
        SELECT s.qid, s.cid, p.ce, p.cn FROM (
            SELECT qid, cid FROM {sel_list}
            UNION ALL SELECT qid, cid FROM pick{idx}
        ) s JOIN pool p ON s.qid = p.qid AND s.cid = p.cid
    )"""


@query(
    "sim_mmr_diversified_rerank",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {MMR_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {MMR_QUERIES}
    ),
    ranked AS (
        SELECT qid, cid, ce, cn,
               {sql_dot("qe", "ce")} / (qn * cn) AS rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {sql_dot("qe", "ce")} / (qn * cn) DESC, cid ASC) AS rn
        FROM q CROSS JOIN c
    ),
    pool AS (
        SELECT qid, cid, ce, cn, rel FROM ranked WHERE rn <= {MMR_POOL}
    ),
    first_pick AS (
        SELECT qid, cid, CAST(1 AS BIGINT) AS pick_rank, rel AS score
        FROM (
            SELECT qid, cid, rel,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
            FROM pool
        ) WHERE rn = 1
    ),
    sel1 AS (
        SELECT f.qid, f.cid, p.ce, p.cn
        FROM first_pick f JOIN pool p ON f.qid = p.qid AND f.cid = p.cid
    ),
    {_sql_mmr_round("sel1", 2)},
    {_sql_mmr_round("sel2", 3)}
    SELECT qid, pick_rank, cid, round(score, 9) AS score FROM (
        SELECT qid, cid, pick_rank, score FROM first_pick
        UNION ALL SELECT qid, cid, pick_rank, score FROM pick2
        UNION ALL SELECT qid, cid, pick_rank, score FROM pick3
    ) t
    ORDER BY qid, pick_rank
    """,
    tags=("llm", "similarity"),
)
def sim_mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from each query's exact
    top-10 pool, greedily pick 3 results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked — the standard
    diversification pass between retrieval and display (or between
    retrieval and RAG context packing, where near-duplicate passages
    waste the token budget). The greedy loop unrolls into K rounds of
    pool×selected joins — per query that is POOL·k pairs, never
    corpus-sized; the pool itself comes from the broadcast-query exact
    ranking. Scores are exact dot-fold arithmetic; ties break to the
    smallest cid, so the picked sets match bitwise."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < MMR_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), nrm.alias("qn")
    )
    c = e.filter(F.col("vec_id") >= MMR_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), nrm.alias("cn")
    )
    rel = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    wrel = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("cid").asc())
    pool = pin(  # the pool is reused by every greedy round
        c.crossJoin(F.broadcast(q))
        .select("qid", "cid", "ce", "cn", rel.alias("rel"))
        .withColumn("rn", F.row_number().over(wrel))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn"),
        eager=True,
    )
    first_pick = (
        pool.withColumn("rn", F.row_number().over(wrel))
        .filter(F.col("rn") == 1)
        .select("qid", "cid", F.lit(1).cast("bigint").alias("pick_rank"), F.col("rel").alias("score"))
    )
    sel = first_pick.join(
        pool.select("qid", "cid", "ce", "cn"), ["qid", "cid"]
    ).select("qid", "cid", "ce", "cn")
    picks = [first_pick]
    lam, om = MMR_LAMBDA, round(1.0 - MMR_LAMBDA, 10)
    for k in range(2, MMR_PICKS + 1):
        sim = dot_double(F.col("ce"), F.col("sce")) / (F.col("cn") * F.col("scn"))
        cand = pool.join(
            sel.select(
                "qid", F.col("cid").alias("scid"), F.col("ce").alias("sce"), F.col("cn").alias("scn")
            ),
            "qid",
        )
        # drop candidates already in the selected set (anti on the pair key)
        cand = cand.join(sel.select("qid", "cid"), ["qid", "cid"], "left_anti")
        mx = cand.select("qid", "cid", "rel", sim.alias("sim")).groupBy(
            "qid", "cid", "rel"
        ).agg(F.max("sim").alias("maxsim"))
        score = lam * F.col("rel") - om * F.col("maxsim")
        wsc = Window.partitionBy("qid").orderBy(score.desc(), F.col("cid").asc())
        pick = (
            mx.withColumn("rn", F.row_number().over(wsc))
            .filter(F.col("rn") == 1)
            .select(
                "qid", "cid", F.lit(k).cast("bigint").alias("pick_rank"), score.alias("score")
            )
        )
        picks.append(pick)
        sel = sel.unionByName(
            pick.join(pool.select("qid", "cid", "ce", "cn"), ["qid", "cid"]).select(
                "qid", "cid", "ce", "cn"
            )
        )
    out = picks[0]
    for p_ in picks[1:]:
        out = out.unionByName(p_)
    return out.select("qid", "pick_rank", "cid", F.round("score", 9).alias("score")).orderBy(
        "qid", "pick_rank"
    )


PRF_QUERIES = 5
PRF_FEEDBACK_K = 3
PRF_TOP_K = 5
PRF_ALPHA = 0.6  # original-query weight; (1-alpha) on the feedback centroid


@query(
    "sim_rocchio_prf_expansion",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {PRF_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {PRF_QUERIES}
    ),
    r0 AS (
        SELECT qid, cid, ce,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY {sql_dot("qe", "ce")} / (qn * cn) DESC, cid ASC) AS rn
        FROM q CROSS JOIN c
    ),
    fbd AS (
        SELECT qid, u.d AS d,
               list_reduce(list(CAST(ce[CAST(u.d AS INT)] AS DOUBLE) ORDER BY rn),
                           (a, b) -> a + b) / {PRF_FEEDBACK_K} AS cv
        FROM r0, UNNEST(range(1, {64} + 1)) AS u(d)
        WHERE rn <= {PRF_FEEDBACK_K}
        GROUP BY qid, u.d
    ),
    fb AS (
        SELECT qid, list(cv ORDER BY d) AS centroid FROM fbd GROUP BY qid
    ),
    q2 AS (
        SELECT q.qid,
               list_transform(range(1, {64} + 1),
                   d -> {PRF_ALPHA} * CAST(q.qe[d] AS DOUBLE)
                        + {round(1.0 - PRF_ALPHA, 10)} * fb.centroid[d]) AS qe2
        FROM q JOIN fb ON q.qid = fb.qid
    ),
    r1 AS (
        SELECT q2.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q2.qid
                   ORDER BY {sql_dot("q2.qe2", "c.ce")}
                            / (sqrt({sql_dot("q2.qe2", "q2.qe2")}) * c.cn) DESC,
                            c.cid ASC) AS rn
        FROM q2 CROSS JOIN c
    ),
    base AS (SELECT qid, cid FROM r0 WHERE rn <= {PRF_TOP_K}),
    expanded AS (SELECT qid, cid FROM r1 WHERE rn <= {PRF_TOP_K}),
    overlap AS (
        SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM base b JOIN expanded e ON b.qid = e.qid AND b.cid = e.cid
        GROUP BY b.qid
    )
    SELECT q.qid, COALESCE(o.n_common, 0) AS n_common,
           CAST({PRF_TOP_K} - COALESCE(o.n_common, 0) AS BIGINT) AS n_new_results
    FROM (SELECT DISTINCT qid FROM q) q
    LEFT JOIN overlap o ON q.qid = o.qid
    ORDER BY q.qid
    """,
    tags=("llm", "similarity"),
)
def sim_rocchio_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: retrieve top-3, move each
    query toward its feedback centroid (q' = α·q + (1−α)·centroid),
    re-retrieve, and report how much the expanded top-5 changed — the
    classic recall-boosting loop dense retrieval inherited from SMART.
    Both retrieval passes are the broadcast-query exact scan; the
    centroid is a per-query k-row mean (exact: sums of ≤3 doubles in
    fixed order), and the blend is per-dim identical arithmetic, so the
    expanded ranking hashes bitwise."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < PRF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), nrm.alias("qn")
    )
    c = e.filter(F.col("vec_id") >= PRF_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), nrm.alias("cn")
    )
    q = pin(q)  # round-0 + expansion consumers
    c = pin(c)  # round-0, feedback, round-1 passes
    cos0 = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w0 = Window.partitionBy("qid").orderBy(F.col("cos0").desc(), F.col("cid").asc())
    r0 = (
        c.crossJoin(F.broadcast(q))
        .select("qid", "cid", "ce", cos0.alias("cos0"))
        .withColumn("rn", F.row_number().over(w0))
    )
    # feedback centroid: per-dim mean over the top-k rows — DuckDB sums
    # the k values per dim in qid-group order; mirror with a sequential
    # fold over the collected (rn-sorted) vector list
    fb = (
        r0.filter(F.col("rn") <= PRF_FEEDBACK_K)
        .groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rn", "ce"))).alias("tops"))
        .select(
            "qid",
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda d: F.aggregate(
                    F.col("tops"),
                    F.lit(0.0),
                    lambda acc, s: acc + F.element_at(s["ce"], d).cast("double"),
                )
                / PRF_FEEDBACK_K,
            ).alias("centroid"),
        )
    )
    q2 = q.join(fb, "qid").select(
        "qid",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: PRF_ALPHA * F.element_at("qe", d).cast("double")
            + round(1.0 - PRF_ALPHA, 10) * F.element_at("centroid", d),
        ).alias("qe2"),
    )
    cos1 = dot_double(F.col("qe2"), F.col("ce")) / (
        F.sqrt(dot_double(F.col("qe2"), F.col("qe2"))) * F.col("cn")
    )
    w1 = Window.partitionBy("qid").orderBy(F.col("cos1").desc(), F.col("cid").asc())
    r1 = (
        c.crossJoin(F.broadcast(q2))
        .select("qid", "cid", cos1.alias("cos1"))
        .withColumn("rn", F.row_number().over(w1))
    )
    base = r0.filter(F.col("rn") <= PRF_TOP_K).select("qid", "cid")
    expanded = r1.filter(F.col("rn") <= PRF_TOP_K).select("qid", "cid")
    overlap = base.join(expanded, ["qid", "cid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        q.select("qid")
        .distinct()
        .join(overlap, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            (PRF_TOP_K - F.coalesce("n_common", F.lit(0))).cast("bigint").alias(
                "n_new_results"
            ),
        )
        .orderBy("qid")
    )


TRIPLET_ANCHORS = 20
TRIPLET_MARGIN = 0.2

_DIST2_QC = """
    list_reduce(
        list_transform(range(1, len(q.embedding) + 1),
            i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
                 * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))),
        (acc, x) -> acc + x)
"""


@query(
    "embedding_triplet_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings
               WHERE vec_id < {TRIPLET_ANCHORS}),
    c AS (SELECT vec_id, label, embedding FROM embeddings
          WHERE vec_id >= {TRIPLET_ANCHORS}),
    dists AS (
        SELECT q.vec_id AS aid, q.label AS alabel,
               c.vec_id AS cid, c.label AS clabel,
               sqrt({_DIST2_QC}) AS d
        FROM q, c
    ),
    pos AS (
        SELECT aid, cid AS pos_id, d AS d_pos,
               ROW_NUMBER() OVER (PARTITION BY aid ORDER BY d, cid) AS rn
        FROM dists WHERE alabel = clabel
    ),
    p1 AS (SELECT aid, pos_id, d_pos FROM pos WHERE rn = 1),
    semihard AS (
        SELECT x.aid, x.cid AS neg_id, x.d AS d_neg,
               ROW_NUMBER() OVER (PARTITION BY x.aid ORDER BY x.d, x.cid) AS rn,
               COUNT(*) OVER (PARTITION BY x.aid) AS n_semihard
        FROM dists x JOIN p1 ON x.aid = p1.aid
        WHERE x.alabel <> x.clabel
          AND x.d > p1.d_pos
          AND x.d < p1.d_pos + CAST('{TRIPLET_MARGIN!r}' AS DOUBLE)
    )
    SELECT p1.aid AS anchor_id, p1.pos_id, round(p1.d_pos, 9) AS d_pos,
           s.neg_id, round(s.d_neg, 9) AS d_neg,
           CAST(COALESCE(s.n_semihard, 0) AS BIGINT) AS n_semihard
    FROM p1 LEFT JOIN (SELECT * FROM semihard WHERE rn = 1) s
      ON p1.aid = s.aid
    ORDER BY anchor_id
    """,
    tags=("llm", "similarity", "training"),
)
def embedding_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard triplet mining (the FaceNet rule) for contrastive
    training data: per anchor, the positive is its nearest same-label
    corpus vector, and the mined negative is the CLOSEST different-
    label vector inside the semi-hard band d_pos < d_neg < d_pos +
    margin — violators that are neither trivially easy (outside
    margin) nor collapse-inducing (closer than the positive).
    Anchors with an empty band surface as NULL negatives (the signal
    to widen the margin). Unlike sample_contrastive_negatives' LCG
    draw, the mining here is distance-driven. Plan: bounded anchor
    batch broadcast against one corpus scan (the sim_topk shape —
    never corpus x corpus), two per-anchor windows on |A| x |C|
    candidate rows partitioned by anchor."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("qe"),
    )
    c = e.filter(F.col("vec_id") >= TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
    )
    dist2 = F.aggregate(
        F.zip_with(
            F.col("qe"),
            F.col("ce"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = pin(c.crossJoin(F.broadcast(q)).select(
        "aid", "alabel", "cid", "clabel", F.sqrt(dist2).alias("d")
    ))  # positive, band, semi-hard passes (scan-leaf lint)
    pw = Window.partitionBy("aid").orderBy("d", "cid")
    p1 = (
        dists.filter(F.col("alabel") == F.col("clabel"))
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") == 1)
        .select("aid", F.col("cid").alias("pos_id"), F.col("d").alias("d_pos"))
    )
    band = (
        dists.filter(F.col("alabel") != F.col("clabel"))
        .join(p1.select("aid", "d_pos"), "aid")
        .filter(
            (F.col("d") > F.col("d_pos"))
            & (F.col("d") < F.col("d_pos") + F.lit(TRIPLET_MARGIN))
        )
    )
    sw = Window.partitionBy("aid")
    semihard = (
        band.withColumn("rn", F.row_number().over(pw))
        .withColumn("n_semihard", F.count(F.lit(1)).over(sw))
        .filter(F.col("rn") == 1)
        .select("aid", F.col("cid").alias("neg_id"), F.col("d").alias("d_neg"), "n_semihard")
    )
    return (
        p1.join(semihard, "aid", "left")
        .select(
            F.col("aid").alias("anchor_id"),
            "pos_id",
            F.round("d_pos", 9).alias("d_pos"),
            "neg_id",
            F.round("d_neg", 9).alias("d_neg"),
            F.coalesce(F.col("n_semihard"), F.lit(0)).cast("bigint").alias("n_semihard"),
        )
        .orderBy("anchor_id")
    )


@query(
    "embedding_isotropy_score",
    oracle=f"""
    WITH normed AS (
        SELECT vec_id,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm,
               embedding
        FROM embeddings
    ),
    comp AS (
        SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
               embedding, nrm
        FROM normed
    ),
    sums AS (
        SELECT pos,
               CAST(SUM(CAST(round(CAST(embedding[pos + 1] AS DOUBLE) / nrm,
                                   9) AS DECIMAL(38,12))) AS DOUBLE) AS s
        FROM comp GROUP BY pos
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM normed),
    agg AS (
        SELECT CAST(SUM(CAST(round(s * s, 9) AS DECIMAL(38,12))) AS DOUBLE)
                   AS sum_sq
        FROM sums
    )
    SELECT t.n,
           round((a.sum_sq - t.n) / (CAST(t.n AS DOUBLE) * (t.n - 1)), 9)
               AS mean_pairwise_cosine,
           round(a.sum_sq / t.n, 9) AS anisotropy_norm2
    FROM agg a CROSS JOIN tot t
    """,
    tags=("llm", "similarity", "quality"),
)
def embedding_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy audit (Ethayarajh's anisotropy
    measure): the EXACT mean pairwise cosine across the whole corpus
    via the identity mean_cos = (||Σu||² − n) / (n(n−1)) over
    unit-normalized vectors — no pair enumeration at all, just
    per-dimension decimal sums of the normalized components and one
    64-term norm. High mean cosine = collapsed/anisotropic space
    (bad for retrieval); the score every embedding-model rollout
    checks. One corpus pass, d-bounded reduce — the O(n²) definition
    computed in O(n·d)."""
    e = load_table(spark, sf_dir, "embeddings")
    from supabase_etl_spark.operators.dedup import dot_double

    nrm = F.sqrt(dot_double(F.col("embedding"), F.col("embedding")))
    comp = e.select(nrm.alias("nrm"), F.posexplode("embedding").alias("pos", "x"))
    sums = comp.groupBy("pos").agg(
        F.sum(F.round(F.col("x").cast("double") / F.col("nrm"), 9).cast("decimal(38,12)"))
        .cast("double")
        .alias("s")
    )
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    agg = sums.agg(
        F.sum(F.round(F.col("s") * F.col("s"), 9).cast("decimal(38,12)"))
        .cast("double")
        .alias("sum_sq")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n",
        F.round(
            (F.col("sum_sq") - F.col("n"))
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            9,
        ).alias("mean_pairwise_cosine"),
        F.round(F.col("sum_sq") / F.col("n"), 9).alias("anisotropy_norm2"),
    )


RADIUS_TAU = 0.78  # cosine radius for range search


@query(
    "sim_radius_range_search",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe,
               sqrt({sql_dot("embedding", "embedding")}) AS qn
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce,
               sqrt({sql_dot("embedding", "embedding")}) AS cn
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ),
    scored AS (
        SELECT qid, cid,
               round({sql_dot("qe", "ce")} / (qn * cn), 9) AS cos_sim
        FROM q CROSS JOIN c
    )
    SELECT qid,
           CAST(count(*) FILTER (WHERE cos_sim >= {RADIUS_TAU!r}) AS BIGINT)
               AS n_in_radius,
           CAST(min(CASE WHEN cos_sim >= {RADIUS_TAU!r} THEN cid END) AS BIGINT)
               AS min_match_id,
           round(CAST(SUM(CASE WHEN cos_sim >= {RADIUS_TAU!r}
                               THEN CAST(cos_sim AS DECIMAL(18,12)) END)
                      AS DOUBLE), 9) AS sum_match_sim
    FROM scored
    GROUP BY qid
    ORDER BY qid
    """,
    tags=("llm", "similarity"),
)
def sim_radius_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — the other half of similarity retrieval
    that top-k can't answer: ALL corpus vectors within cosine ≥ τ of
    each query, reported as per-query match counts and similarity
    mass. Retrieval systems use it for duplicate sweeps ("everything
    closer than 0.78") where k is unknowable in advance.

    Same scale shape as sim_topk_bruteforce: broadcast query batch ×
    one corpus scan, per-row fold cosine (operators/dedup.dot_double),
    no shuffle beyond the 10-row aggregate. Cosines quantize at 9
    before the threshold so the boundary decision is identical in both
    engines; matched similarities sum through decimal(18,12)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        F.round(
            dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 9
        ).alias("cos_sim"),
    )
    hit = F.col("cos_sim") >= RADIUS_TAU
    return (
        scored.groupBy("qid")
        .agg(
            F.sum(hit.cast("int")).cast("bigint").alias("n_in_radius"),
            F.min(F.when(hit, F.col("cid"))).cast("bigint").alias("min_match_id"),
            F.round(
                F.sum(F.when(hit, F.col("cos_sim").cast("decimal(18,12)"))).cast(
                    "double"
                ),
                9,
            ).alias("sum_match_sim"),
        )
        .orderBy("qid")
    )


@query(
    "embedding_sq_reconstruction_error",
    oracle=f"""
    WITH {_SQL_SQ_CTES},
    err AS (
        SELECT e.vec_id, e.i, e.x, r.xr,
               (e.x - r.xr) * (e.x - r.xr) AS se
        FROM ex e JOIN rec r ON e.vec_id = r.vec_id AND e.i = r.i
    ),
    per_dim AS (
        SELECT i,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(se, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sse,
               CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        FROM err GROUP BY i
    ),
    ranked AS (
        SELECT i, n, round(sse / n, 12) AS mse,
               round(10.0 * ln(sxx / sse) / ln(10.0), 9) AS snr_db,
               ROW_NUMBER() OVER (ORDER BY round(sse / n, 12) DESC, i) AS rn
        FROM per_dim WHERE sse > 0
    )
    SELECT rn, i AS dim, n, round(mse, 9) AS mse, snr_db
    FROM ranked WHERE rn <= 8
    ORDER BY rn
    """,
    tags=("llm", "similarity", "quantization"),
)
def embedding_sq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension reconstruction-error audit of the int8 scalar
    quantizer — the diagnostic that decides WHICH dimensions need finer
    codes before sim_topk_sq_int8's recall degrades: exact MSE and SNR
    (10·log10(Σx²/ΣSE)) per dimension under the same 255-level
    [min,max] codebook, reporting the 8 worst dims. Uniform SQ loses
    most on heavy-tailed dims; this table is the evidence for
    per-dim bit allocation (the FAISS SQ8-vs-SQ6 decision).

    Exactness: the reconstruction shares the quantizer's single fixed
    operation order; squared errors and energies round at 1e-12 into
    decimal sums; MSE quantizes at 12 before the rank with a dim
    tie-break. Scale: one posexplode + dims-sized aggs — the codebook
    pipeline's own shape, nothing new to shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    dims = ex.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    xr = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn")
        + F.floor(
            (F.col("x") - F.col("mn")) * F.lit(254.0) / (F.col("mx") - F.col("mn"))
        )
        * (F.col("mx") - F.col("mn"))
        / F.lit(254.0)
    )
    err = ex.join(F.broadcast(dims), "i").select(
        "i",
        "x",
        ((F.col("x") - xr) * (F.col("x") - xr)).alias("se"),
    )
    per_dim = err.groupBy("i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("se", 12).cast("decimal(38,12)")).cast("double").alias("sse"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
    )
    mse = F.round(F.col("sse") / F.col("n"), 12)
    ranked = (
        per_dim.filter(F.col("sse") > 0)
        .select(
            "i",
            "n",
            mse.alias("mse"),
            F.round(F.lit(10.0) * F.log(F.col("sxx") / F.col("sse")) / F.log(F.lit(10.0)), 9).alias("snr_db"),
        )
        .withColumn("rn", F.row_number().over(Window.orderBy(F.col("mse").desc(), "i")))
    )
    return (
        ranked.filter(F.col("rn") <= 8)
        .select("rn", F.col("i").alias("dim"), "n", F.round("mse", 9).alias("mse"), "snr_db")
        .orderBy("rn")
    )


MMD_GROUPS = 4  # compare label % 4 domains pairwise


@query(
    "embedding_mmd_linear",
    oracle=f"""
    WITH vals AS (
        SELECT label % {MMD_GROUPS} AS grp, i, CAST(x AS DOUBLE) AS x
        FROM (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS i,
                   unnest(embedding) AS x
            FROM embeddings
        )
    ),
    mu AS (
        SELECT grp, i,
               CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM vals GROUP BY grp, i
    ),
    pairs AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
               CAST(SUM(CAST(round((a.m - b.m) * (a.m - b.m), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS mmd2
        FROM mu a JOIN mu b ON a.i = b.i AND a.grp < b.grp
        GROUP BY a.grp, b.grp
    )
    SELECT grp_a, grp_b, n_a, n_b,
           round(mmd2, 9) AS mmd2_linear,
           round(sqrt(mmd2), 9) AS mmd_linear
    FROM pairs
    ORDER BY grp_a, grp_b
    """,
    tags=("llm", "embedding", "drift"),
)
def embedding_mmd_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between embedding domains
    (Gretton et al. 2012; with k(x,y)=x·y the MMD² collapses to
    ‖μ_a − μ_b‖², the mean-embedding distance) — the distribution-shift
    test in REPRESENTATION space that the token-level KL/JS operators
    cannot see: two domains with identical vocabularies but different
    semantics separate here first. All {MMD_GROUPS} label-derived
    domains compared pairwise.

    Exactness: per-(domain, dim) means from round-9 decimal sums; the
    squared mean gaps round at 1e-12 into the pairwise decimal sum.
    Scale: ONE corpus pass builds the domains × dims mean table
    (map-side combined); the pairwise stage runs on that tiny table —
    no vector ever meets another vector."""
    e = load_table(spark, sf_dir, "embeddings")
    vals = e.select(
        (F.col("label") % MMD_GROUPS).alias("grp"),
        F.posexplode("embedding").alias("i0", "xf"),
    ).select("grp", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    mu = vals.groupBy("grp", "i").agg(
        (
            F.sum(F.round("x", 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a, b = mu.alias("a"), mu.alias("b")
    pairs = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.grp") < F.col("b.grp")))
        .groupBy(F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b"))
        .agg(
            F.max("a.n").cast("bigint").alias("n_a"),
            F.max("b.n").cast("bigint").alias("n_b"),
            F.sum(
                F.round(
                    (F.col("a.m") - F.col("b.m")) * (F.col("a.m") - F.col("b.m")), 12
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("mmd2"),
        )
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        F.round("mmd2", 9).alias("mmd2_linear"),
        F.round(F.sqrt("mmd2"), 9).alias("mmd_linear"),
    ).orderBy("grp_a", "grp_b")


@query(
    "sim_ann_recall_audit",
    oracle=f"""
    WITH hashed AS (
        SELECT vec_id, embedding,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm,
               {sql_lsh_bucket("embedding")} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn, bucket FROM hashed
          WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn, bucket FROM hashed
          WHERE vec_id >= {N_QUERIES}),
    truth AS (
        SELECT qid, cid FROM (
            SELECT q.qid, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {sql_dot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                                c.cid ASC) AS rn
            FROM q, c
        ) WHERE rn <= {TOP_K}
    ),
    n_cand AS (
        SELECT q.qid, CAST(count(*) AS BIGINT) AS n_candidates
        FROM q JOIN c USING (bucket) GROUP BY q.qid
    ),
    approx AS (
        SELECT qid, cid FROM (
            SELECT q.qid, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {sql_dot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                                c.cid ASC) AS rn
            FROM q JOIN c USING (bucket)
        ) WHERE rn <= {TOP_K}
    )
    SELECT t.qid,
           COALESCE(nc.n_candidates, 0) AS n_candidates,
           CAST(SUM(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
           round(SUM(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST({TOP_K} AS DOUBLE), 6) AS recall_at_k
    FROM truth t
    LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
    LEFT JOIN n_cand nc ON t.qid = nc.qid
    GROUP BY t.qid, nc.n_candidates
    ORDER BY t.qid
    """,
    tags=("llm", "similarity", "eval", "pipeline"),
)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RECALL AUDIT — the acceptance test an ANN index must pass
    before it replaces brute force, as ONE composed plan: exact cosine
    top-{TOP_K} ground truth (broadcast queries x one corpus pass) and
    sign-LSH bucketed retrieval (sim_topk_lsh's index) computed
    side-by-side, then per-query recall@{TOP_K} plus the bucket's
    candidate count (the recall-vs-cost tradeoff in one row per
    query). Both rank filters compile through WindowGroupLimit —
    per-partition partial top-k before any shuffle, so neither path
    funnels the corpus through one task. The corpus is scanned once
    per retrieval path; the audit joins are query-grained
    (<= {N_QUERIES} x {TOP_K} rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    hashed = pin(e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        lsh_bucket(F.col("embedding")),
    ))  # shared frame (scan-leaf lint)
    q = hashed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), "bucket",
    )
    c = hashed.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"), "bucket",
    )
    cos = dot_double(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    truth = (
        c.crossJoin(F.broadcast(q.select("qid", "qe", "qn")))
        .select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cid")
    )
    bucketed = c.join(F.broadcast(q), "bucket")
    n_cand = bucketed.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    approx = (
        bucketed.select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        # rename BOTH keys: truth and approx share scan lineage, so a
        # Column-identity drop after the join resolves ambiguously
        .select(F.col("qid").alias("aqid"), F.col("cid").alias("acid"))
    )
    return (
        truth.join(
            approx,
            (F.col("qid") == F.col("aqid")) & (F.col("cid") == F.col("acid")),
            "left",
        )
        .drop("aqid")
        .join(n_cand, "qid", "left")
        .groupBy("qid", "n_candidates")
        .agg(
            F.sum(F.when(F.col("acid").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
            F.round(
                F.sum(F.when(F.col("acid").isNotNull(), 1).otherwise(0))
                / F.lit(float(TOP_K)),
                6,
            ).alias("recall_at_k"),
        )
        .select(
            "qid",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_hits",
            "recall_at_k",
        )
        .orderBy("qid")
    )


KNN_GRAPH_K = 5  # neighbors kept per node


@query(
    "sim_knn_graph_bucketed",
    oracle=f"""
    WITH hashed AS (
        SELECT vec_id, embedding,
               sqrt({sql_dot("embedding", "embedding")}) AS nrm,
               {sql_lsh_bucket("embedding")} AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS node, b.vec_id AS neighbor,
               {sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
                   AS cos_sim
        FROM hashed a JOIN hashed b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT node, neighbor, cos_sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY node
                        ORDER BY cos_sim DESC, neighbor ASC) AS INT) AS rank
        FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rank <= {KNN_GRAPH_K})
    SELECT t.node, t.neighbor, t.cos_sim, t.rank,
           (r.node IS NOT NULL) AS mutual
    FROM topk t
    LEFT JOIN topk r ON r.node = t.neighbor AND r.neighbor = t.node
    ORDER BY t.node, t.rank
    """,
    tags=("llm", "similarity", "graph"),
)
def sim_knn_graph_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction — the shared substrate under semantic
    dedup (SemDeDup), graph-based ANN indexes (HNSW/NSG build their
    layers from exactly this), and density-based embedding clustering.
    Candidates come from the sign-LSH bucket self-join (the banded
    equi-join every near-dup family here uses — never all-pairs), exact
    cosine re-ranks inside the bucket, each node keeps its top-k, and a
    self-join of the edge list on the reversed key marks MUTUAL edges
    (the reciprocal-kNN signal that separates core points from hubs).

    Scale shape: one corpus scan computes signatures; the self-join
    shuffles on the bucket key (pair population ~N²/2^planes, tunable
    by plane count); the top-k window partitions by node and compiles
    through WindowGroupLimit (per-partition partial top-k); the
    mutuality self-join is edge-keyed (k·N rows). Nothing corpus-sized
    crosses one task."""
    e = load_table(spark, sf_dir, "embeddings")
    hashed = pin(e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        lsh_bucket(F.col("embedding")),
    ))  # shared frame (scan-leaf lint)
    a = hashed.select(
        "bucket",
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = hashed.select(
        "bucket",
        F.col("vec_id").alias("neighbor"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("node").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    topk = (
        a.join(b, "bucket")
        .filter(F.col("node") != F.col("neighbor"))
        .select("node", "neighbor", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= KNN_GRAPH_K)
    )
    rev = topk.select(
        F.col("neighbor").alias("node"), F.col("node").alias("neighbor")
    ).withColumn("mutual", F.lit(True))
    return (
        topk.join(rev, ["node", "neighbor"], "left")
        .select(
            "node",
            "neighbor",
            "cos_sim",
            "rank",
            F.coalesce(F.col("mutual"), F.lit(False)).alias("mutual"),
        )
        .orderBy("node", "rank")
    )


HAM_QUERIES = 5  # vec_id < 5 are the probe vectors
HAM_K = 10

_PACK_SPARK = (
    "aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), (acc, i) -> acc + "
    "IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT), "
    "shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT)))"
)
_PACK_SQL = (
    "list_sum(list_transform(range({lo}, {hi} + 1), i -> CASE "
    "WHEN list_extract(embedding, i + 1) > 0 THEN (1::BIGINT << (i - {lo})) "
    "ELSE 0::BIGINT END))"
)


@query(
    "sim_hamming_topk",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id,
               {_PACK_SQL.format(lo=0, hi=31)} AS w1,
               {_PACK_SQL.format(lo=32, hi=63)} AS w2
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, w1 AS q1, w2 AS q2 FROM packed
          WHERE vec_id < {HAM_QUERIES}),
    c AS (SELECT * FROM packed WHERE vec_id >= {HAM_QUERIES}),
    dist AS (
        SELECT q.qid, c.vec_id,
               CAST(bit_count(xor(q.q1, c.w1)) + bit_count(xor(q.q2, c.w2))
                    AS INT) AS hamming
        FROM q CROSS JOIN c
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY hamming, vec_id) AS rk
        FROM dist
    )
    SELECT qid, vec_id, hamming, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {HAM_K}
    ORDER BY qid, rk
    """,
    tags=("llm", "similarity", "embedding"),
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding ANN baseline: sign-binarize each 64-d vector
    into two 32-bit words (the memory layout a billion-vector Hamming
    index actually stores — 8 bytes/vector instead of 256) and rank
    candidates per probe by popcount of the XOR. This is the
    quantization floor every binary-hashing paper (LSH with random
    hyperplanes, ITQ) evaluates against.

    Scale shape: packing is a pure row-local fold at scan speed; the
    probe set broadcasts (queries x corpus, one corpus pass — never
    corpus x corpus); per-probe top-{HAM_K} compiles through
    WindowGroupLimit so no probe funnels the corpus into one task.
    XOR+popcount are exact integer ops — bit-identical cross-engine by
    construction."""
    e = load_table(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        F.expr(_PACK_SPARK.format(lo=0, hi=31)).alias("w1"),
        F.expr(_PACK_SPARK.format(lo=32, hi=63)).alias("w2"),
    )
    q = packed.filter(F.col("vec_id") < HAM_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
    )
    c = packed.filter(F.col("vec_id") >= HAM_QUERIES)
    dist = F.broadcast(q).crossJoin(c).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
            + F.bit_count(F.col("q2").bitwiseXOR(F.col("w2")))
        )
        .cast("int")
        .alias("hamming"),
    )
    rk = F.row_number().over(
        Window.partitionBy("qid").orderBy("hamming", "vec_id")
    )
    return (
        dist.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= HAM_K)
        .orderBy("qid", "rk")
    )


_L2_SQL = (
    "sqrt(greatest({na2} + {nb2} - 2.0 * {dot}, 0.0))"
)


@query(
    "embedding_chamfer_hausdorff",
    oracle=f"""
    WITH a AS (
        SELECT vec_id AS ida, embedding AS ea,
               {sql_dot("embedding", "embedding")} AS na2
        FROM embeddings WHERE label = 0
    ),
    b AS (
        SELECT vec_id AS idb, embedding AS eb,
               {sql_dot("embedding", "embedding")} AS nb2
        FROM embeddings WHERE label = 1
    ),
    pd AS (
        SELECT ida, idb,
               sqrt(greatest(na2 + nb2 - 2.0 * {sql_dot("ea", "eb")}, 0.0)) AS d
        FROM a CROSS JOIN b
    ),
    ma AS (SELECT ida, min(d) AS md FROM pd GROUP BY ida),
    mb AS (SELECT idb, min(d) AS md FROM pd GROUP BY idb)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
           round((SELECT CAST(SUM(CAST(md AS DECIMAL(38,18))) AS DOUBLE)
                         / count(*) FROM ma)
                 + (SELECT CAST(SUM(CAST(md AS DECIMAL(38,18))) AS DOUBLE)
                           / count(*) FROM mb), 6) AS chamfer,
           round(greatest((SELECT max(md) FROM ma),
                          (SELECT max(md) FROM mb)), 6) AS hausdorff
    """,
    tags=("llm", "similarity", "embedding", "ml-eval"),
)
def embedding_chamfer_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chamfer distance and (symmetric) Hausdorff distance between two
    embedding SETS — the set-level similarity metrics retrieval and
    generative-eval suites report when comparing a produced point
    cloud / embedding batch against a reference set. Chamfer averages
    each side's nearest-neighbor distance; Hausdorff takes the worst
    case.

    Sets here: label-0 vs label-1 vectors. The pair stage is
    set-A × set-B with the SMALLER side broadcast — these are eval
    sets (bounded by construction), never corpus × corpus; at 100 TB
    the corpus-sized side streams once past the broadcast. Distances
    share one exact fold (dot_double, DuckDB list_reduce order), the
    per-point minima reduce map-side, and the two means go through
    exact decimal sums before ONE division each."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm2 = dot_double(F.col("embedding"), F.col("embedding"))
    a = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        nrm2.alias("na2"),
    )
    b = e.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        nrm2.alias("nb2"),
    )
    d = F.sqrt(
        F.greatest(
            F.col("na2") + F.col("nb2") - 2.0 * dot_double(F.col("ea"), F.col("eb")),
            F.lit(0.0),
        )
    )
    pd_ = pin(  # consumed by BOTH directed minima
        a.crossJoin(F.broadcast(b))
        .select("ida", "idb", d.alias("d"))
    )
    ma = pd_.groupBy("ida").agg(F.min("d").alias("md"))
    mb = pd_.groupBy("idb").agg(F.min("d").alias("md"))
    sa = ma.agg(
        F.count(F.lit(1)).alias("n_a"),
        (F.sum(F.col("md").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1))).alias("ca"),
        F.max("md").alias("ha"),
    )
    sb = mb.agg(
        F.count(F.lit(1)).alias("n_b"),
        (F.sum(F.col("md").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1))).alias("cb"),
        F.max("md").alias("hb"),
    )
    return sa.crossJoin(F.broadcast(sb)).select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.col("ca") + F.col("cb"), 6).alias("chamfer"),
        F.round(F.greatest("ha", "hb"), 6).alias("hausdorff"),
    )
