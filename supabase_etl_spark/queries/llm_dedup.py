"""Deduplication queries over ``documents``/``embeddings``
(SURVEY.md §2.2 "LLM ops": exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine).

The testdata plants near-duplicate texts (word-3-gram Jaccard ≈ 0.99
pairs) but no exact duplicates, so exact-dedup queries plant their own
via a shifted-id self-union — which also makes survivor selection
observable. Every query replays the identical algorithm in DuckDB SQL
(shared constants from operators/dedup.py) and hash-matches.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators import dedup as D
from supabase_etl_spark.operators.cc import component_members, connected_components
from supabase_etl_spark.operators.joins import broadcast_bounded
from supabase_etl_spark.operators.text import tokens
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import llm_similarity as S
from supabase_etl_spark.queries import query

JACCARD_THRESHOLD = 0.8
COPY_OFFSET = 100_000
SIMHASH_MAX_HAMMING = 3
COSINE_DUP_THRESHOLD = 0.95

_SQL_TOKENS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

# Shared oracle CTEs: exploded distinct shingles + per-doc set sizes.
_SQL_SHINGLE_CTES = f"""
    sh AS (
        SELECT doc_id, unnest({D.sql_shingles()}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

_SQL_JACCARD_TAIL = f"""
    SELECT i.ida, i.idb, i.inter, sa.n AS na, sb.n AS nb,
           i.inter / (sa.n + sb.n - i.inter) AS jacc
    FROM inter i
    JOIN sizes sa ON i.ida = sa.doc_id
    JOIN sizes sb ON i.idb = sb.doc_id
    WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ORDER BY ida, idb
"""


@query(
    "dedup_exact",
    oracle=f"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {COPY_OFFSET}, text FROM documents
    )
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM all_docs
    GROUP BY sha256(text)
    ORDER BY keeper_id
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup with deterministic survivor (min id).

    sha2-256 group-by: map-side partial agg, one shuffle on the hash —
    the canonical 100 TB exact-dedup plan (no sort, no window)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text")
    return (
        d.unionByName(planted)
        .groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper_id")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTES},
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    {_SQL_JACCARD_TAIL}
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via inverted-index join
    (operators/dedup.jaccard_pairs; the result-identical prefix-filtered
    variant is registered as dedup_ngram_jaccard_prefix). Finds the
    planted ≈0.99 pairs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return D.jaccard_pairs(d, JACCARD_THRESHOLD).orderBy("ida", "idb")


@query(
    "dedup_ngram_jaccard_prefix",
    # Result-identical to dedup_ngram_jaccard by construction (prefix
    # filtering drops only candidate pairs that cannot reach the
    # threshold), so the oracle is the same plain inverted-index SQL.
    oracle=f"""
    WITH {_SQL_SHINGLE_CTES},
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    {_SQL_JACCARD_TAIL}
    """,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered Jaccard near-dup pairs
    (operators/dedup.jaccard_pairs_prefix): shingles ranked by global
    rarity, only each document's prefix joins, so stop-shingle df skew
    never reaches the candidate stage — the shape you'd run on a web
    corpus. Result-identical to dedup_ngram_jaccard (zero recall loss
    at t=0.8 by the prefix bound)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return D.jaccard_pairs_prefix(d, JACCARD_THRESHOLD).orderBy("ida", "idb")


def _sql_minhash_cte() -> str:
    """sig/band/candidate CTEs replaying operators/dedup minhash."""
    hashes = ",\n               ".join(
        f"min(({a} * CAST(sid AS BIGINT) + {b}) % {D.MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    )
    band_rows = "\n        UNION ALL\n".join(
        "        SELECT doc_id, {b} AS band, {ks} FROM sig".format(
            b=b,
            ks=", ".join(
                f"h{b * D.ROWS_PER_BAND + r} AS k{r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.BANDS)
    )
    key_eq = " AND ".join(f"a.k{r} = b.k{r}" for r in range(D.ROWS_PER_BAND))
    return f"""
    ds AS (SELECT doc_id, {D.sql_strhash("s")} AS sid FROM sh),
    sig AS (
        SELECT doc_id,
               {hashes}
        FROM ds GROUP BY doc_id
    ),
    bands AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        FROM bands a
        JOIN bands b ON a.band = b.band AND {key_eq} AND a.doc_id < b.doc_id
    )
    """


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTES},
    {_sql_minhash_cte()},
    inter AS (
        SELECT c.ida, c.idb, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.ida
        JOIN sh sb ON sb.doc_id = c.idb AND sb.s = sa.s
        GROUP BY 1, 2
    )
    {_SQL_JACCARD_TAIL}
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (12 hashes) + LSH (4 bands × 3 rows) candidate
    generation, exact-Jaccard re-rank. Shingle ids come from the
    cross-engine polynomial hash (operators/dedup.strhash) — row-local,
    no dictionary, no global sort — so the plan is the standard minhash
    pipeline at any scale: one agg for signatures, one band-key
    self-join (shuffle on band key), re-rank only on candidates."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sids = D.shingle_ids(d)
    # No cache() anywhere on this path (r4): a library user composing
    # operators no longer accumulates storage blocks that only a
    # harness clearCache() would free (tests/test_cache_hygiene.py),
    # and at 100 TB the exploded band table is corpus-sized — it could
    # never live in storage memory anyway, so recompute-per-side is the
    # only shape that survives scale. The merge hint matters twice
    # over: it blocks the planner's toy-scale choice of BROADCASTING
    # bands (a corpus-sized broadcast is the one guaranteed OOM at
    # scale) and measured fastest of the three join strategies at
    # sf0.1 (0.47s merge / 0.49s shuffle_hash / 0.59s broadcast for the
    # candidate stage). Net cost of dropping the cache is ~0.4s at
    # sf0.1 — the price of zero storage pinning. The SIGNATURE table is
    # different: doc_id + 16 longs per doc — the thing every MinHash
    # system materializes — so it takes a pin (scan-leaf
    # lint) and both band-join sides re-derive their explode from the
    # pinned rows instead of re-running shingle+minhash per side.
    bands = D.band_keys(
        pin(D.minhash_signature(sids))
    ).hint("merge")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [F.col(f"a.k{r}") == F.col(f"b.k{r}") for r in range(D.ROWS_PER_BAND)]
            + [F.col("a.band") == F.col("b.band"), F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    # Re-rank on candidates via ARRAY-LOCAL set intersection: each side
    # of a candidate pair pulls its (distinct) shingle array in one
    # keyed join, then |A∩B| is a row-local array_intersect — replacing
    # the r1-r3 shape that re-exploded the corpus into two join-and-
    # count shuffles (260k shingle rows at sf0.1 vs 20k array rows;
    # same set semantics because shingles_of_tokens is array_distinct).
    toks = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    arrs = toks.select("doc_id", D.shingles_of_tokens(F.col("toks")).alias("sh"))
    inter_df = (
        cand.join(
            arrs.select(F.col("doc_id").alias("ida"), F.col("sh").alias("sha")), "ida"
        )
        .join(
            arrs.select(F.col("doc_id").alias("idb"), F.col("sh").alias("shb")), "idb"
        )
        .select(
            "ida",
            "idb",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
    )
    return (
        inter_df.withColumn(
            "jacc", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jacc") >= JACCARD_THRESHOLD)
        .select("ida", "idb", "inter", "na", "nb", "jacc")
        .orderBy("ida", "idb")
    )


def _sql_simhash_cte() -> str:
    h = f"(({D.SIMHASH_A} * CAST(tid AS BIGINT) + {D.SIMHASH_B}) % {D.SIMHASH_M})"
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN ({h} >> {b}) & 1 = 1 THEN c ELSE -c END) AS s{b}"
        for b in range(D.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(D.SIMHASH_BITS)
    )
    return f"""
    tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents),
    tc AS (
        SELECT doc_id, {D.sql_strhash("t")} AS tid, count(*) AS c
        FROM tok GROUP BY 1, 2
    ),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM tc GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {sig} AS simhash FROM bits)
    """


def _sql_simhash_band_ctes() -> str:
    """Byte-band CTEs replaying the Spark-side banded candidate join."""
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, (simhash >> {8 * b}) & 255 AS k FROM sig"
        for b in range(D.SIMHASH_BANDS)
    )
    return f"""
    bands AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
    )
    """


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_sql_simhash_cte()},
    {_sql_simhash_band_ctes()}
    SELECT c.ida, c.idb,
           sa.simhash AS simhash_a, sb.simhash AS simhash_b,
           bit_count(xor(sa.simhash, sb.simhash)) AS hamming
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.ida
    JOIN sig sb ON sb.doc_id = c.idb
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY ida, idb
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash (count-weighted token hashes, sign per bit),
    near-dup pairs at small Hamming distance. Token ids from the
    row-local cross-engine hash (operators/dedup.strhash).

    The pair stage is **banded**, not all-pairs: the signature splits
    into 4 byte-keys; any pair at Hamming <= 3 differs in at most 3 of
    the 4 bytes, so it shares >= 1 intact byte (pigeonhole) and is
    found by the per-band equi-join — zero recall loss, no n² plan.
    Candidate volume is bounded by per-(band,byte) bucket occupancy;
    at 100 TB the join shuffles on (band, byte) like any hash join."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tc = (
        tok.select("doc_id", D.strhash(F.col("t")).alias("tid"))
        .groupBy("doc_id", "tid")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h = (
        F.lit(D.SIMHASH_A).cast("bigint") * F.col("tid").cast("bigint")
        + F.lit(D.SIMHASH_B)
    ) % F.lit(D.SIMHASH_M)
    bits = tc.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.col("c")).otherwise(
                    -F.col("c")
                )
            ).alias(f"s{b}")
            for b in range(D.SIMHASH_BITS)
        ]
    )
    sig_expr = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0)),
        range(1, D.SIMHASH_BITS),
        F.when(F.col("s0") > 0, F.lit(1).cast("bigint")).otherwise(F.lit(0)),
    )
    # doc_id + 1 long per doc; feeds bands AND both hamming lookups
    sig = pin(bits.select("doc_id", sig_expr.alias("simhash")))
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias("k"),
            )
            for b in range(D.SIMHASH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_arr).alias("bk")).select(
        "doc_id", "bk.band", "bk.k"
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.k") == F.col("b.k"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.join(sig.select(F.col("doc_id").alias("ida"), F.col("simhash").alias("simhash_a")), "ida")
        .join(sig.select(F.col("doc_id").alias("idb"), F.col("simhash").alias("simhash_b")), "idb")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("ida", "idb", "simhash_a", "simhash_b", "hamming")
        .orderBy("ida", "idb")
    )


COSINE_BANDS = 4  # independent sign-LSH bucket sets unioned for candidates


def _sql_cosine_band_ctes() -> str:
    """Multi-band sign-LSH candidate CTEs replaying the Spark plan."""
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, {b} AS band, {S.sql_lsh_bucket('embedding', b)} AS bucket"
        f" FROM all_vecs"
        for b in range(COSINE_BANDS)
    )
    return f"""
    bands AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    """


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH all_vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {COPY_OFFSET}, embedding FROM embeddings
    ),
    normed AS (
        SELECT vec_id, embedding, sqrt({D.sql_dot("embedding", "embedding")}) AS nrm
        FROM all_vecs
    ),
    {_sql_cosine_band_ctes()}
    SELECT c.ida, c.idb,
           {D.sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_sim
    FROM cand c
    JOIN normed a ON a.vec_id = c.ida
    JOIN normed b ON b.vec_id = c.idb
    WHERE {D.sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
          >= {COSINE_DUP_THRESHOLD}
    ORDER BY ida, idb
    """,
    tags=("llm", "dedup"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (planted duplicates via shifted-id
    self-union; organic max cosine in the testdata is ≈0.51, so the
    planted 1.0-pairs are exactly the expected output).

    The pair stage gates candidates through **4 independent sign-LSH
    bucket sets** (16 deterministic hyperplanes, llm_similarity.
    lsh_bucket bands 0-3): a pair is scored only if some band puts both
    vectors in the same bucket. Identical vectors agree on every sign,
    so planted duplicates are always candidates; for near-but-not-equal
    pairs at cos>=0.95 each band hits with p≈0.65, so 4 bands miss with
    p≈0.015 (the oracle replays the identical gate, so results still
    hash-match bit-for-bit). Replaces the brute-force O(n²) cross join
    with per-band equi-joins — shuffle on (band, bucket), the 100 TB
    shape. Exact cosine re-rank runs only on candidates."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.select((F.col("vec_id") + COPY_OFFSET).alias("vec_id"), "embedding")
    normed = pin(  # bands + 2 lookup joins (scan-leaf lint)
        e.unionByName(planted)
        .withColumn("nrm", F.sqrt(D.dot_double(F.col("embedding"), F.col("embedding"))))
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                S.lsh_bucket(F.col("embedding"), b).alias("bucket"),
            )
            for b in range(COSINE_BANDS)
        ]
    )
    bands = normed.select("vec_id", F.explode(band_arr).alias("bk")).select(
        "vec_id", "bk.band", "bk.bucket"
    )
    # (band, bucket) has only 4×16 = 64 values and the join output is
    # quadratic in bucket occupancy — the low-cardinality-key trap AQE
    # coalesces onto a handful of reducers (see SCALE.md round-3 note).
    # Salt side A on vec_id and replicate side B per salt: each
    # candidate pair is still produced exactly once, the quadratic
    # work spreads over P× more partitions.
    # salt cap: replication of side B scales with the salt count, so
    # bound it — 64 spreads a quadratic bucket over 64 tasks at any
    # cluster size without a 1000x replication bill
    par = min(spark.sparkContext.defaultParallelism, 64)
    a_side = bands.select(
        "band", "bucket", (F.col("vec_id") % par).cast("int").alias("salt"),
        F.col("vec_id").alias("ida"),
    ).repartition(par, "band", "bucket", "salt")
    b_side = bands.select(
        "band", "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(par - 1))).alias("salt"),
        F.col("vec_id").alias("idb"),
    ).repartition(par, "band", "bucket", "salt")
    cand = (
        a_side.join(b_side, ["band", "bucket", "salt"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    cos = D.dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(
            normed.select(
                F.col("vec_id").alias("ida"),
                F.col("embedding").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "ida",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("idb"),
                F.col("embedding").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "idb",
        )
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
        .select("ida", "idb", "cos_sim")
        .orderBy("ida", "idb")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTES},
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.ida, i.idb
        FROM inter i
        JOIN sizes sa ON i.ida = sa.doc_id
        JOIN sizes sb ON i.idb = sb.doc_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT ida AS src, idb AS dst FROM pairs
        UNION
        SELECT idb, ida FROM pairs
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT a AS doc_id, min(b) AS cluster_id,
           (a = min(b)) AS is_canonical
    FROM reach GROUP BY a
    ORDER BY doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate **cluster assignment**: connected components over
    the n-gram-Jaccard pair graph, every document labeled with its
    component's minimum doc_id (the canonical survivor). This is the
    step that turns pairwise dedup output into the keep/drop decision a
    training-data pipeline actually executes.

    Spark side: ``operators.cc.connected_components`` over the pair
    graph — driver union-find at or below its edge cap, the
    star-alternation fixpoint (log rounds, each pinned) above it. The
    DuckDB oracle computes the same labels with a recursive CTE."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.jaccard_pairs(d, JACCARD_THRESHOLD)
    labels = connected_components(
        d.select(F.col("doc_id").alias("node")),
        pairs.select(F.col("ida").alias("src"), F.col("idb").alias("dst")),
    ).toDF("doc_id", "cluster_id")
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    ).orderBy("doc_id")


@query(
    "corpus_curate",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTES},
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.ida, i.idb
        FROM inter i
        JOIN sizes sa ON i.ida = sa.doc_id
        JOIN sizes sb ON i.idb = sb.doc_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT ida AS src, idb AS dst FROM pairs
        UNION
        SELECT idb, ida FROM pairs
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
    toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    quality AS (
        SELECT doc_id,
               len(toks) AS n_words,
               (len(toks) BETWEEN 50 AND 100000)
               AND (CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                    / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0)
               AND (CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                    / greatest(len(toks), 1) >= 0.8) AS q_pass
        FROM toks
    )
    SELECT count(*) AS n_docs,
           CAST(SUM(CASE WHEN q.q_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_quality,
           CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical,
           CAST(SUM(CASE WHEN q.q_pass AND c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_curated,
           CAST(SUM(CASE WHEN q.q_pass AND c.doc_id = c.cluster_id
                         THEN q.n_words ELSE 0 END) AS BIGINT)
             AS curated_tokens
    FROM quality q JOIN clusters c ON q.doc_id = c.doc_id
    """,
    tags=("llm", "dedup", "pipeline"),
    bench=True,
)
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone: one plan composing the quality gate
    (Gopher word-count / mean-word-length / alpha-fraction rules) with
    near-dup cluster assignment (connected components over the Jaccard
    pair graph) into the decision a training-data pipeline actually
    ships — keep a document iff it passes quality AND is its cluster's
    canonical survivor. Emits the corpus accounting row (docs, quality
    passes, canonicals, curated count, curated token budget)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # cluster assignment (connected components, as dedup_clusters) —
    # member-only labels; docs outside every near-dup pair are their own
    # canonical, picked up via broadcast left join + coalesce below
    # (guide §2.4: the corpus never shuffles to learn its cluster)
    pairs = D.jaccard_pairs(d, JACCARD_THRESHOLD)
    members, bounded = component_members(
        pairs.select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
    )
    members = members.toDF("doc_id", "cluster_id")
    # quality gate (Gopher core rules, same exprs as text_gopher_filter)
    toks = tokens(F.col("text"))
    n = F.greatest(F.size(toks), F.lit(1))
    mean_wl = (
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).cast("double")
        / n
    )
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n
    q = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        (
            F.size(toks).between(50, 100_000)
            & mean_wl.between(3.0, 10.0)
            & (alpha >= 0.8)
        ).alias("q_pass"),
    )
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    keep = F.col("q_pass") & (F.col("doc_id") == cid)
    return q.join(broadcast_bounded(members, bounded), "doc_id", "left").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).alias("n_pass_quality"),
        F.sum(F.when(F.col("doc_id") == cid, 1).otherwise(0)).alias(
            "n_canonical"
        ),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_curated"),
        F.sum(F.when(keep, F.col("n_words")).otherwise(0)).alias("curated_tokens"),
    )


SEMDEDUP_K = 8  # seed centroids: the first k organic vectors
# Pair-join bucket cap: clusters over this many members are re-assigned
# to sub-centroids before the pair join, bounding the quadratic term to
# cap² per bucket under skewed centroids. Testdata clusters (~125
# members) never hit it, so gate hashes are unchanged; the split path
# is exercised by tests/test_semantic_split.py with a skewed corpus.
SEMDEDUP_CLUSTER_CAP = 2000


def _dist2_fold(vec_col: str, cent_col: str):
    """Squared L2 between two float-array columns as a zip_with fold."""
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col(cent_col),
            lambda x, c: (x.cast("double") - c.cast("double"))
            * (x.cast("double") - c.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _split_oversized_clusters(normed: DataFrame, cap: int) -> DataFrame:
    """SemDeDup oversized-cluster split: bound Σ n_c² under centroid skew.

    Any cluster with more than ``cap`` members is re-assigned to
    ceil(n_c / cap) geometric sub-centroids (its lowest-id members, the
    same deterministic seeding rule as the top-level centroids); the
    pair join then buckets on (cluster_id, sub_id). Identical
    embeddings always land in the same sub-cluster (identical argmin,
    min-sub_id tie-break), so exact duplicates are never separated —
    only near-dup pairs that straddle a sub-boundary are missed, which
    is SemDeDup's own cluster-boundary approximation one level down.
    Degenerate all-identical oversized clusters cannot be split by
    geometry (every member ties to sub 0); such corpora are exactly
    what digest-based exact dedup removes first.

    Plan shape — broadcast + row-local, NO corpus shuffle: the only
    full-width movement is the seed-selection window over oversized
    clusters' rows (empty when nothing is oversized). Sub-centroids
    collect into one per-cluster ARRAY (≤ Σ ceil(n_c/cap) rows — tiny),
    broadcast onto the corpus, and each row's argmin is a row-local
    fold over that array — the first version of this helper joined the
    sub-assignment back on vec_id, which re-shuffled the whole
    embedding table and doubled dedup_semantic's wall time at sf0.1.
    """
    from pyspark.sql.window import Window

    sizes = normed.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_c"))
    m = sizes.select(
        "cluster_id", F.ceil(F.col("n_c") / cap).cast("int").alias("m")
    ).filter(F.col("m") > 1)
    w = Window.partitionBy("cluster_id").orderBy("vec_id")
    seeds = (
        normed.join(F.broadcast(m), "cluster_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("m"))
    )
    subcents = seeds.groupBy("cluster_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct((F.col("rn") - 1).alias("sub_idx"), F.col("embedding").alias("cent"))
            )
        ).alias("cents")
    )

    def _d2(vec, cent):
        return F.aggregate(
            F.zip_with(
                vec,
                cent,
                lambda x, c: (x.cast("double") - c.cast("double"))
                * (x.cast("double") - c.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # row-local argmin over the broadcast sub-centroid array; strict <
    # keeps the lowest sub_idx on ties (array_sort orders by sub_idx),
    # so identical embeddings always co-assign
    best = F.aggregate(
        F.col("cents"),
        F.struct(
            F.lit(float("inf")).alias("d2"), F.lit(0).cast("int").alias("sub_idx")
        ),
        lambda acc, s: F.when(
            _d2(F.col("embedding"), s["cent"]) < acc["d2"],
            F.struct(
                _d2(F.col("embedding"), s["cent"]).alias("d2"),
                s["sub_idx"].alias("sub_idx"),
            ),
        ).otherwise(acc),
    )
    return (
        normed.join(F.broadcast(subcents), "cluster_id", "left")
        .withColumn(
            "sub_id",
            F.when(F.col("cents").isNull(), F.lit(0).cast("int")).otherwise(
                best["sub_idx"]
            ),
        )
        .drop("cents")
    )


SUBKEY_STRIDE = 1 << 20  # sub-cluster id space per cluster in the pair key


def semantic_pair_stage(normed: DataFrame, par: int, threshold: float) -> DataFrame:
    """The SemDeDup within-cluster pair join: salted on (bucket,
    ida % par) with side B replicated per salt — every unordered pair
    compared exactly once, quadratic work spread over par × buckets
    partitions. ``normed`` must carry vec_id, embedding, nrm,
    cluster_id, sub_id (use `_split_oversized_clusters` to bound bucket
    sizes first). (cluster_id, sub_id) folds into ONE composite join
    key — measured: carrying sub_id as a third join/repartition column
    doubled the stage's wall time at sf0.1 (1.7s → 3.4s), while the
    composite keeps the exact two-key shape of the pre-split plan plus
    one payload column. Shared by `dedup_semantic` and the
    scripts/scale_curve.py skew evidence so both measure the same
    plan."""
    pk = (F.col("cluster_id") * SUBKEY_STRIDE + F.col("sub_id")).alias("pk")
    a = normed.select(
        pk,
        F.col("cluster_id"),
        (F.col("vec_id") % par).cast("int").alias("salt"),
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    ).repartition(par, "pk", "salt")
    b = normed.select(
        pk,
        F.explode(F.sequence(F.lit(0), F.lit(par - 1))).alias("salt"),
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    ).repartition(par, "pk", "salt")
    cos = D.dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, ["pk", "salt"])
        .filter(F.col("ida") < F.col("idb"))
        .filter(cos >= threshold)
        .select("cluster_id", "ida", "idb")
    )


def _embeddings_row_count(spark: SparkSession, sf_dir: str) -> int | None:
    """Footer-only row count of the embeddings table (driver-side O(1)).

    Handles both the single-file layout the driver's testdata uses and
    a directory-of-parts table (``ParquetDataset`` resolves either);
    returns None when the path cannot be probed so the caller can fall
    back to a parallelism-based salt instead of raising.
    """
    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    try:
        ds = pq.ParquetDataset(path)
        return sum(f.metadata.num_rows for f in ds.fragments)
    except Exception:
        return None


def _sql_semantic_dist2(e: str, c: str) -> str:
    """DuckDB squared-L2 fold identical to the Spark zip_with/aggregate."""
    return f"""list_reduce(
        list_transform(range(1, len({e}) + 1),
            i -> (CAST({e}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE))
                 * (CAST({e}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE))),
        (acc, x) -> acc + x)"""


@query(
    "dedup_semantic",
    oracle=f"""
    WITH all_vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {COPY_OFFSET}, embedding FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings
        WHERE vec_id < {SEMDEDUP_K}
    ),
    dists AS (
        SELECT v.vec_id, c.centroid_id,
               {_sql_semantic_dist2("v.embedding", "c.cent")} AS dist2
        FROM all_vecs v, cents c
    ),
    best AS (SELECT vec_id, min(dist2) AS min_d FROM dists GROUP BY vec_id),
    assign AS (
        SELECT d.vec_id, min(d.centroid_id) AS cluster_id
        FROM dists d JOIN best b ON d.vec_id = b.vec_id AND d.dist2 = b.min_d
        GROUP BY d.vec_id
    ),
    normed AS (
        SELECT a.vec_id, a.cluster_id, v.embedding,
               sqrt({D.sql_dot("v.embedding", "v.embedding")}) AS nrm
        FROM assign a JOIN all_vecs v ON a.vec_id = v.vec_id
    ),
    pairs AS (
        SELECT a.cluster_id, a.vec_id AS ida, b.vec_id AS idb
        FROM normed a
        JOIN normed b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE {D.sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
              >= {COSINE_DUP_THRESHOLD}
    ),
    removed AS (SELECT DISTINCT cluster_id, idb FROM pairs)
    SELECT n.cluster_id,
           count(*) AS n_members,
           (SELECT count(*) FROM pairs p WHERE p.cluster_id = n.cluster_id)
               AS n_dup_pairs,
           (SELECT count(*) FROM removed r WHERE r.cluster_id = n.cluster_id)
               AS n_removed
    FROM normed n
    GROUP BY n.cluster_id
    ORDER BY cluster_id
    """,
    tags=("llm", "dedup", "embedding"),
    bench=True,
    # pin-interior lint (r13): the normed pin's ONE-TIME builder makes a
    # genuine two-pass over the corpus — vectors flow once through the
    # centroid-distance argmin and once through the assignment
    # join-back — plus the bounded centroid probe re-read. Pinning allv
    # instead would materialize 2n embeddings to save a cheap columnar
    # parquet re-scan: strictly worse at 100 TB, so the extra leaves
    # are sanctioned, not pinned away.
    pin_scans=(
        "assign pass: corpus × broadcast centroids argmin",
        "join-back pass: corpus re-scan for cluster_id attach",
        "centroid probe: bounded vec_id<K re-read for the broadcast side",
    ),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    at embedding level — cluster the corpus, then search for
    near-duplicates ONLY within each cluster. The planted shifted-id
    copies land in the same cluster as their originals (identical
    embedding → identical argmin) and are removed by the
    keep-lowest-id rule.

    The scale story is the whole point: brute-force cosine dedup is
    O(n²); clustering first bounds the pair stage to Σ n_c² — with k
    balanced clusters that is n²/k, and k grows with corpus size
    (SemDeDup used 50k clusters for LAION). Assignment is one scan
    against a broadcast centroid table with a per-row
    `min(struct(dist2, id))` argmin — ONE skinny shuffle, no
    join-back on double equality. The pair join is SALTED on the
    probe id: cluster_id alone has only k distinct values, so a plain
    equi-join hashes the whole quadratic stage onto k reducers (AQE
    even coalesces them to one at small input bytes — the whole query
    measured 12.7s at sf0.1 with the pair stage single-task);
    spreading side A over (cluster_id, ida % P) partitions with side
    B replicated per salt keeps every pair exactly once and the
    quadratic work evenly spread (1.5s after, same rows — SCALE.md
    round-3 note). Per-cluster skew beyond the salt is bounded by the
    OVERSIZED-CLUSTER SPLIT (`_split_oversized_clusters`): clusters
    over SEMDEDUP_CLUSTER_CAP members are re-assigned to geometric
    sub-centroids before the pair join, capping every bucket at cap²
    work — the same remedy as the LSH bucket caps, and SemDeDup's own
    answer (grow k with the corpus). Exact duplicates always co-assign
    (identical argmin); testdata clusters never reach the cap, so the
    oracle comparison is over the unsplit path."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.select((F.col("vec_id") + COPY_OFFSET).alias("vec_id"), "embedding")
    allv = e.unionByName(planted)
    cents = F.broadcast(
        e.filter(F.col("vec_id") < SEMDEDUP_K).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent")
        )
    )
    dists = allv.crossJoin(cents).select(
        "vec_id", "centroid_id", _dist2_fold("embedding", "cent").alias("dist2")
    )
    # argmin with min-id tie-break: lexicographic struct min, one agg
    assign = dists.groupBy("vec_id").agg(
        F.min(F.struct("dist2", "centroid_id")).getField("centroid_id").alias("cluster_id")
    )
    normed = pin(
        allv.join(assign, "vec_id")
        .withColumn("nrm", F.sqrt(D.dot_double(F.col("embedding"), F.col("embedding"))))
    )
    # Footer-only row count (driver-side O(1), multi-file-safe) drives
    # two data-sized plan choices, the same way AQE sizes from runtime
    # stats; an unprobeable path falls back to scale-safe defaults.
    n_rows = _embeddings_row_count(spark, sf_dir)
    # (1) the oversized-cluster split engages only when worst-case skew
    # could overwhelm the SALT's own bound: with the whole corpus in
    # one cluster, pair work is (2n)²/2 spread over ≤64 salt
    # partitions, so while 2n ≤ 10·cap each partition holds ≲0.8·cap² —
    # the same order a split bucket would, making the split's
    # bookkeeping (size agg + seed window + broadcast fold) pure
    # overhead (measured: 2.1s → 2.8s at sf0.1 engaged-but-idle,
    # → 4.5s with the original join-back shape). Beyond 10·cap the
    # quadratic risk grows unboundedly and the split pays. Unprobeable
    # row count → engage (bounding the worst case wins at unknown
    # scale).
    if n_rows is None or 2 * n_rows > 10 * SEMDEDUP_CLUSTER_CAP:
        normed = _split_oversized_clusters(normed, SEMDEDUP_CLUSTER_CAP)
    else:
        normed = normed.withColumn("sub_id", F.lit(0))
    # (2) salt factor: the pair join's partition count IS buckets x
    # salt, so par must clear two bars at once — (a) enough (bucket,
    # salt) combos to occupy the cluster (r5's ~1-salt-per-2k-vectors
    # sizing gave par=2 at sf0.1: the whole quadratic stage ran as TWO
    # tasks, the bench's straggler; measured sweep par=1..32 at sf0.1:
    # 1.63/1.43/1.27/1.14/1.12/1.08 s — monotonic until parallelism
    # saturates), while (b) bounding side-B replication (par copies of
    # the corpus) on small inputs where the shuffle would cost more
    # than the pairs. So: 2x-oversubscribed cores-per-bucket target,
    # data-ceiled at ~1 salt per 250 vectors, capped at 64. At 100 TB
    # the split drives bucket count ∝ n/cap, the cores-per-bucket
    # target collapses to 1-2, and replication stays O(n) — bucket
    # parallelism, not salt, carries the scale-out.
    n_buckets = SEMDEDUP_K
    if n_rows is not None and 2 * n_rows > 10 * SEMDEDUP_CLUSTER_CAP:
        n_buckets = max(SEMDEDUP_K, -(-(2 * n_rows) // SEMDEDUP_CLUSTER_CAP))
    par = -(-(2 * spark.sparkContext.defaultParallelism) // n_buckets)
    if n_rows is not None:
        par = min(par, -(-(2 * n_rows) // 250))
    par = max(1, min(64, par))
    pairs = semantic_pair_stage(normed, par, COSINE_DUP_THRESHOLD)
    pair_stats = pairs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.count_distinct(F.col("idb")).alias("n_removed"),
    )
    members = normed.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        members.join(pair_stats, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce(F.col("n_dup_pairs"), F.lit(0)).alias("n_dup_pairs"),
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


CONTAINMENT_THRESHOLD = 0.9
FRAG_OFFSET = 200_000  # planted fragment ids


@query(
    "dedup_containment",
    oracle=f"""
    WITH frags AS (
        SELECT doc_id + {FRAG_OFFSET} AS doc_id,
               array_to_string(({_SQL_TOKENS})[1:len({_SQL_TOKENS}) // 2], ' ') AS text
        FROM documents
        WHERE len({_SQL_TOKENS}) >= 6
    ),
    all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id, text FROM frags
    ),
    sh AS (
        SELECT doc_id, unnest({D.sql_shingles()}) AS s FROM all_docs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.ida, i.idb, i.inter, sa.n AS na, sb.n AS nb,
           i.inter / least(sa.n, sb.n) AS containment
    FROM inter i
    JOIN sizes sa ON i.ida = sa.doc_id
    JOIN sizes sb ON i.idb = sb.doc_id
    WHERE i.inter / least(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
    ORDER BY ida, idb
    """,
    tags=("llm", "dedup"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) — the
    asymmetric score that catches a short document embedded in a long
    one, which Jaccard misses (a half-doc fragment scores ≈0.5 Jaccard
    but ≈1.0 containment). The planted fragments (each document's
    first-half tokens, shifted ids) are exactly what this measure — and
    not dedup_ngram_jaccard — must flag.

    Same inverted-index shape as jaccard_pairs: one shuffle on the
    shingle hash, intersection by count, sizes joined after — only the
    denominator changes. The same df-skew caveat and prefix-filter
    remedy apply at web scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    frags = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 6)
        .select(
            (F.col("doc_id") + FRAG_OFFSET).alias("doc_id"),
            F.array_join(
                F.slice(F.col("toks"), 1, (F.size("toks") / 2).cast("int")), " "
            ).alias("text"),
        )
    )
    sh = pin(
        D.exploded_shingles(d.unionByName(frags))
        .select("doc_id", F.xxhash64("s").alias("s"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sizes.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb")), "idb")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("ida", "idb", "inter", "na", "nb", "containment")
        .orderBy("ida", "idb")
    )


def _sql_incr_minhash_cte() -> str:
    """sig/band CTEs over the `allsh` (corpus ∪ incoming) shingle set,
    replaying operators/dedup minhash for the incremental-ingest gate."""
    hashes = ",\n               ".join(
        f"min(({a} * CAST(sid AS BIGINT) + {b}) % {D.MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    )
    band_rows = "\n        UNION ALL\n".join(
        "        SELECT doc_id, {b} AS band, {ks} FROM sig".format(
            b=b,
            ks=", ".join(
                f"h{b * D.ROWS_PER_BAND + r} AS k{r}" for r in range(D.ROWS_PER_BAND)
            ),
        )
        for b in range(D.BANDS)
    )
    key_eq = " AND ".join(f"a.k{r} = b.k{r}" for r in range(D.ROWS_PER_BAND))
    return f"""
    ds AS (SELECT doc_id, {D.sql_strhash("s")} AS sid FROM allsh),
    sig AS (
        SELECT doc_id,
               {hashes}
        FROM ds GROUP BY doc_id
    ),
    bands AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND {key_eq}
        WHERE a.doc_id >= {COPY_OFFSET} AND b.doc_id < {COPY_OFFSET}
    )
    """


@query(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    incoming AS (
        SELECT doc_id + {COPY_OFFSET} AS doc_id, text
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + {COPY_OFFSET} AS doc_id,
               substring(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
        FROM documents WHERE doc_id % 20 = 10
    ),
    exact_dup AS (
        SELECT DISTINCT i.doc_id
        FROM incoming i JOIN corpus c ON sha256(i.text) = sha256(c.text)
    ),
    both_docs AS (SELECT * FROM corpus UNION ALL SELECT * FROM incoming),
    allsh AS (
        SELECT doc_id, unnest({D.sql_shingles()}) AS s FROM both_docs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM allsh GROUP BY doc_id),
    {_sql_incr_minhash_cte()},
    inter AS (
        SELECT c.new_id, c.old_id, count(*) AS inter
        FROM cand c
        JOIN allsh sa ON sa.doc_id = c.new_id
        JOIN allsh sb ON sb.doc_id = c.old_id AND sb.s = sa.s
        GROUP BY 1, 2
    ),
    near_dup AS (
        SELECT DISTINCT i.new_id AS doc_id
        FROM inter i
        JOIN sizes sa ON i.new_id = sa.doc_id
        JOIN sizes sb ON i.old_id = sb.doc_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    )
    SELECT i.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'duplicate_exact'
                WHEN n.doc_id IS NOT NULL THEN 'duplicate_near'
                ELSE 'admit' END AS verdict
    FROM incoming i
    LEFT JOIN exact_dup e ON i.doc_id = e.doc_id
    LEFT JOIN near_dup n ON i.doc_id = n.doc_id
    ORDER BY i.doc_id
    """,
    tags=("llm", "dedup", "incremental"),
    bench=True,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest gate — the shape a production training-data
    pipeline actually runs daily: dedup an arriving batch AGAINST the
    existing corpus, never corpus-vs-corpus. The batch (synthesized
    here as exact copies of every 20th document plus 80 %-prefix
    truncations of every (20k+10)th) is checked in two stages:

    1. exact: sha2 content-hash left-semi join into the corpus — at
       100 TB the corpus side is a pre-computed hash index, the join
       shuffles only 32-byte digests, and the incoming batch is tiny
       relative to the corpus;
    2. near: MinHash band keys for batch and corpus, candidates only
       where a band matches ACROSS sides (batch×corpus, never
       corpus×corpus — the quadratic term the incremental formulation
       deletes), exact-Jaccard re-rank on candidates.

    Corpus band keys are recomputed here for self-containment; the
    production pipeline persists them once and the per-batch cost is
    O(batch) + candidate re-ranks. Verdict per incoming doc:
    duplicate_exact / duplicate_near / admit."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d
    trunc = F.expr("substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))")
    # scan-once discipline (VERDICT r10 task 2): the incoming batch feeds
    # the exact-hash stage, the union into the shingle stream, AND the
    # final verdict join; the exploded shingle frame feeds the band keys,
    # the size table, and BOTH sides of the exact-Jaccard intersection;
    # the band-key table is consumed twice (batch/corpus sides). Unpinned,
    # Catalyst re-derives each from the parquet scan per consumer — the
    # r10 plan had 48 Scan-parquet leaves and blew 1.9s -> 13.4s under
    # load. pin(...) materializes each shared frame once
    # (the hygiene gate's one sanctioned storage use).
    incoming = pin(
        d.filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 20 == 10).select(
                (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
                trunc.alias("text"),
            )
        )
    )

    # stage 1: exact content hash, batch semi-joined into corpus digests
    corpus_hashes = corpus.select(F.sha2("text", 256).alias("h")).distinct()
    exact_dup = (
        incoming.select("doc_id", F.sha2("text", 256).alias("h"))
        .join(corpus_hashes, "h", "left_semi")
        .select("doc_id")
    )

    # stage 2: cross-side MinHash bands (batch x corpus only)
    both_docs = corpus.unionByName(incoming)
    sh = pin(D.exploded_shingles(both_docs))
    bands = pin(D.band_keys(D.minhash_signature(
        sh.select("doc_id", D.strhash(F.col("s")).alias("sid"))
    )))
    is_new = F.col("doc_id") >= COPY_OFFSET
    cand = (
        bands.filter(is_new).alias("a")
        .join(
            bands.filter(~is_new).alias("b"),
            [F.col(f"a.k{r}") == F.col(f"b.k{r}") for r in range(D.ROWS_PER_BAND)]
            + [F.col("a.band") == F.col("b.band")],
        )
        .select(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("old_id"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # r13 (guide §3.1): `cand` and `inter` are candidate-sized (linear
    # in true cross-side near-dups) while the shingle stream and the
    # size table are corpus-sized — broadcast the BOUNDED side so the
    # verify stage stops shuffling corpus-sized tables on doc_id. The
    # shingle-match join keeps its keyed shuffle (sa ⋈ sb on shingle)
    # only where the corpus side genuinely carries the data.
    inter = (
        F.broadcast(cand)
        .join(sh.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("old_id") == F.col("sb.doc_id")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    near_dup = (
        F.broadcast(inter)
        .join(sizes.alias("za"), F.col("new_id") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("old_id") == F.col("zb.doc_id"))
        .filter(
            F.col("inter") / (F.col("za.n") + F.col("zb.n") - F.col("inter"))
            >= JACCARD_THRESHOLD
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )

    # verdict flags are batch-bounded — broadcast them onto the batch
    return (
        incoming.join(
            F.broadcast(exact_dup.withColumn("is_exact", F.lit(True))), "doc_id", "left"
        )
        .join(F.broadcast(near_dup.withColumn("is_near", F.lit(True))), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("duplicate_exact"))
            .when(F.col("is_near"), F.lit("duplicate_near"))
            .otherwise(F.lit("admit"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


SNM_WINDOW = 5  # sorted-neighborhood comparison window
SNM_KEY_CHARS = 64  # normalized-prefix blocking key width


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {COPY_OFFSET},
               substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))
        FROM documents WHERE doc_id % 20 = 10
    ),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY lower(regexp_replace(
                       substring(text, 1, {SNM_KEY_CHARS}),
                       '[^a-zA-Z0-9]', '', 'g')), doc_id) AS rn
        FROM all_docs
    ),
    cand AS (
        SELECT least(a.doc_id, b.doc_id) AS ida,
               greatest(a.doc_id, b.doc_id) AS idb
        FROM ranked a JOIN ranked b
          ON b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
    ),
    sh AS (
        SELECT doc_id, unnest({D.sql_shingles()}) AS s FROM all_docs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.ida, c.idb, count(*) AS inter
        FROM cand c
        JOIN sh a ON c.ida = a.doc_id
        JOIN sh b ON c.idb = b.doc_id AND a.s = b.s
        GROUP BY 1, 2
    )
    SELECT i.ida, i.idb, i.inter, sa.n AS na, sb.n AS nb,
           i.inter / (sa.n + sb.n - i.inter) AS jacc
    FROM inter i
    JOIN sizes sa ON i.ida = sa.doc_id
    JOIN sizes sb ON i.idb = sb.doc_id
    WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ORDER BY ida, idb
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup blocking (Hernández &
    Stolfo, SIGMOD 1995): sort the corpus by a normalized-prefix
    fingerprint, compare each document only with its {SNM_WINDOW}
    successors in that order, exact-Jaccard-verify the candidates.
    The skew-free alternative to hash blocking — a stop-shingle that
    floods one LSH bucket cannot flood a rank window, whose candidate
    count is exactly W·n by construction.

    Global rank WITHOUT a single-partition window (the scale trap of
    the naive row_number() OVER (ORDER BY ...)): range-repartition on
    the key, rank within partitions, then add broadcast per-partition
    offsets — rank = global sort position regardless of where the
    range boundaries fall, since range partitions are contiguous in
    key order and (key, doc_id) is a total order. Neighbor pairs come
    from an i=1..W explode + rank equi-join (W× fan-out of skinny
    rows), never a non-equi self-join. Verify stage re-uses the
    inverted-index shape on candidates only."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    trunc = F.expr("substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))")
    all_docs = d.unionByName(
        d.filter(F.col("doc_id") % 20 == 10).select(
            (F.col("doc_id") + COPY_OFFSET).alias("doc_id"), trunc.alias("text")
        )
    )
    key = F.lower(
        F.regexp_replace(
            F.substring(F.col("text"), 1, SNM_KEY_CHARS), "[^a-zA-Z0-9]", ""
        )
    )
    all_docs = pin(all_docs)  # 2 consumers (scan-leaf lint)
    keyed = all_docs.select("doc_id", key.alias("k"))

    par = spark.sparkContext.defaultParallelism
    ranged = pin(keyed.repartitionByRange(par, "k", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    ))  # 2 consumers; also pins pid<->row binding
    wlocal = W.partitionBy("pid").orderBy("k", "doc_id")
    local = ranged.withColumn("lrn", F.row_number().over(wlocal))
    # per-partition row counts -> exclusive running offsets; bounded by
    # the partition count, so the single-partition window is over ~par
    # rows, not the corpus
    offsets = (
        ranged.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("n").over(
                    W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("pid", "off")
    )
    ranked = pin(local.join(F.broadcast(offsets), "pid").select(
        "doc_id", (F.col("lrn") + F.col("off")).alias("rn")
    ))  # probe + build sides (scan-leaf lint)

    probe = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.explode(F.sequence(F.lit(1), F.lit(SNM_WINDOW))).alias("i"),
        F.col("rn"),
    ).select("id_a", (F.col("rn") + F.col("i")).alias("rn"))
    cand = (
        probe.join(ranked.select(F.col("doc_id").alias("id_b"), "rn"), "rn")
        .select(
            F.least("id_a", "id_b").alias("ida"),
            F.greatest("id_a", "id_b").alias("idb"),
        )
    )

    sh = pin(D.exploded_shingles(all_docs))  # 3 consumers
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sh.alias("sa"), F.col("ida") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("idb") == F.col("sb.doc_id")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("ida") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("idb") == F.col("zb.doc_id"))
        .select(
            "ida",
            "idb",
            "inter",
            F.col("za.n").alias("na"),
            F.col("zb.n").alias("nb"),
            (F.col("inter") / (F.col("za.n") + F.col("zb.n") - F.col("inter"))).alias(
                "jacc"
            ),
        )
        .filter(F.col("jacc") >= JACCARD_THRESHOLD)
        .orderBy("ida", "idb")
    )


# ---------------------------------------------------------------------------
# Probabilistic record linkage (Fellegi–Sunter)

ER_DUP_STRIDE = 10_000_000  # id space of the injected "source B" records
# ln(m/u)-style agreement / disagreement weights (fixed priors — a real
# deployment EM-fits these; the scoring machinery is identical)
ER_W = {
    "name": (4.0, -2.0),
    "bal": (2.0, -1.0),
    "seg": (1.0, -0.5),
}
ER_THRESHOLD = 4.0
ER_LEV_MAX = 2      # name agreement: edit distance ≤ 2
ER_BAL_TOL = 0.05   # balance agreement tolerance


@query(
    "er_record_linkage",
    oracle=f"""
    WITH a AS (
        SELECT c_custkey AS key, c_name AS name, c_nationkey AS nat,
               c_acctbal AS bal, c_mktsegment AS seg
        FROM customer
    ),
    b AS (
        -- deterministic dirty copies of every 4th record: one character
        -- deleted from the name at a key-dependent position, balance
        -- nudged, segment sometimes lost
        SELECT c_custkey + {ER_DUP_STRIDE} AS key,
               concat(substring(c_name, 1, 9 + c_custkey % 9),
                      substring(c_name, 11 + c_custkey % 9,
                                length(c_name))) AS name,
               c_nationkey AS nat,
               c_acctbal + 0.01 * (c_custkey % 3) AS bal,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE c_mktsegment END AS seg
        FROM customer WHERE c_custkey % 4 = 0
    ),
    cand AS (
        SELECT a.key AS a_key, b.key AS b_key,
               a.name AS a_name, b.name AS b_name,
               a.bal AS a_bal, b.bal AS b_bal,
               a.seg AS a_seg, b.seg AS b_seg
        FROM a JOIN b
          ON a.nat = b.nat
         AND CAST(floor(a.bal / 1000) AS BIGINT) = CAST(floor(b.bal / 1000) AS BIGINT)
    ),
    scored AS (
        SELECT a_key, b_key,
               CAST(
                 CAST(CASE WHEN levenshtein(a_name, b_name) <= {ER_LEV_MAX}
                      THEN {ER_W["name"][0]} ELSE {ER_W["name"][1]} END
                      AS DECIMAL(10,2))
               + CAST(CASE WHEN abs(a_bal - b_bal) <= {ER_BAL_TOL}
                      THEN {ER_W["bal"][0]} ELSE {ER_W["bal"][1]} END
                      AS DECIMAL(10,2))
               + CAST(CASE WHEN b_seg IS NOT NULL AND a_seg = b_seg
                      THEN {ER_W["seg"][0]} ELSE {ER_W["seg"][1]} END
                      AS DECIMAL(10,2))
               AS DOUBLE) AS score
        FROM cand
    )
    SELECT a_key, b_key, score
    FROM scored WHERE score >= {ER_THRESHOLD}
    ORDER BY a_key, b_key
    """,
    tags=("llm", "dedup", "er"),
)
def er_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, Fellegi–Sunter style (the 1969
    model under every production ER system — Splink, dedupe.io): two
    "sources" — the customer registry and a deterministically dirtied
    copy of every 4th record (one name character deleted at a
    key-dependent position, balance nudged, segment sometimes lost) —
    are BLOCKED on (nation, coarse balance bucket), candidate pairs get
    an agreement vector (edit-distance name match, balance tolerance,
    null-aware segment equality), and each feature contributes its
    ln(m/u) agreement/disagreement weight to a match score; pairs over
    threshold link.

    Scale shape: blocking turns the n×m comparison space into bucketed
    equi-join candidates (never a cross join); block skew is bounded by
    the bucket granularity the blocker chooses; feature weights are
    plan constants; the score is a 3-term decimal sum (order-free).
    The edit distance runs on the JVM (`levenshtein` builtin — DuckDB
    computes the identical DP), only on blocked candidates, never all
    pairs. Dirty-copy injection replays in SQL, so linkage output is
    fully hash-checked — including the false-positive behavior of the
    chosen weights, not just the planted pairs."""
    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    k = F.col("c_custkey")
    b = c.filter(k % 4 == 0).select(
        (k + ER_DUP_STRIDE).alias("key"),
        F.concat(
            F.expr("substring(c_name, 1, 9 + c_custkey % 9)"),
            F.expr("substring(c_name, 11 + c_custkey % 9, length(c_name))"),
        ).alias("name"),
        F.col("c_nationkey").alias("nat"),
        (F.col("c_acctbal") + 0.01 * (k % 3)).alias("bal"),
        F.when(k % 5 == 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("seg"),
    )
    bucket = lambda col: F.floor(col / 1000).cast("bigint")  # noqa: E731
    cand = a.alias("a").join(
        b.alias("b"),
        (F.col("a.nat") == F.col("b.nat"))
        & (bucket(F.col("a.bal")) == bucket(F.col("b.bal"))),
    )

    def w(feature: str, agree):
        yes, no = ER_W[feature]
        return (
            F.when(agree, F.lit(yes)).otherwise(F.lit(no)).cast("decimal(10,2)")
        )

    score = (
        w("name", F.levenshtein(F.col("a.name"), F.col("b.name")) <= ER_LEV_MAX)
        + w("bal", F.abs(F.col("a.bal") - F.col("b.bal")) <= ER_BAL_TOL)
        + w(
            "seg",
            F.col("b.seg").isNotNull() & (F.col("a.seg") == F.col("b.seg")),
        )
    ).cast("double")
    return (
        cand.select(
            F.col("a.key").alias("a_key"),
            F.col("b.key").alias("b_key"),
            score.alias("score"),
        )
        .filter(F.col("score") >= ER_THRESHOLD)
        .orderBy("a_key", "b_key")
    )


@query(
    "dedup_exact_canonical",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   '\\s+', ' ', 'g'))) AS h
        FROM documents
    )
    SELECT min(doc_id) AS keeper,
           count(*) AS n_copies,
           h
    FROM canon
    GROUP BY h
    ORDER BY keeper
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER text canonicalization (the Dolma/C4 hygiene
    step dedup_exact deliberately skips): lowercase, non-alphanumerics
    to spaces, whitespace collapsed, then hash-group — so documents
    differing only in case, punctuation, or spacing collapse into one
    group where byte-exact dedup sees distinct texts. Same scale shape
    as dedup_exact: canonicalization is a row-local expression chain
    inside the scan, then ONE hash-shuffle on the digest with min-id
    survivor. Cross-engine note: DuckDB's regexp_replace needs the 'g'
    flag to match Spark's replace-all default — the kind of dialect
    trap the oracle exists to catch."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            r"\s+",
            " ",
        )
    )
    return (
        d.select("doc_id", F.md5(canon).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper", "n_copies", "h")
        .orderBy("keeper")
    )


def _split_leakage_oracle() -> str:
    from supabase_etl_spark.queries.llm_sampling import _sql_bucket

    b = _sql_bucket("cluster_id", 100)
    return f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTES},
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.ida, i.idb
        FROM inter i
        JOIN sizes sa ON i.ida = sa.doc_id
        JOIN sizes sb ON i.idb = sb.doc_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT ida AS src, idb AS dst FROM pairs
        UNION
        SELECT idb, ida FROM pairs
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
    assigned AS (
        SELECT doc_id, cluster_id,
               CASE WHEN {b} < 80 THEN 'train'
                    WHEN {b} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM clusters
    ),
    leaks AS (
        SELECT count(*) AS leaked
        FROM pairs p
        JOIN assigned x ON p.ida = x.doc_id
        JOIN assigned y ON p.idb = y.doc_id
        WHERE x.split <> y.split
    )
    SELECT split,
           count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           (SELECT leaked FROM leaks) AS leaked_pairs
    FROM assigned
    GROUP BY split
    ORDER BY split
    """


@query(
    "split_leakage_safe",
    oracle=_split_leakage_oracle(),
    tags=("llm", "dedup", "sampling"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split — the eval-decontamination
    rule split_train_val_test skips: hashing doc_id sends two
    near-duplicate documents to DIFFERENT splits (test answers leak
    into train), so the split key must be the near-dup CLUSTER id.
    Pipeline: Jaccard pair graph → connected components
    (`operators.cc.connected_components`) → deterministic LCG bucket on
    cluster_id → 80/10/10. The output self-certifies: leaked_pairs
    counts near-dup pairs straddling splits, computed from the data
    (not asserted) — zero by construction since both endpoints carry
    the same cluster_id. Scale: the split adds one broadcast-free
    row-local bucket expression on top of the CC labels; the leak
    audit is one pairs-sized join, |pairs| << corpus."""
    from supabase_etl_spark.queries.llm_sampling import _bucket

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.jaccard_pairs(d, JACCARD_THRESHOLD).select("ida", "idb")
    labels = connected_components(
        d.select(F.col("doc_id").alias("node")),
        pairs.select(F.col("ida").alias("src"), F.col("idb").alias("dst")),
    ).toDF("doc_id", "cluster_id")
    bk = _bucket(F.col("cluster_id"), 100)
    assigned = pin(labels.select(
        "doc_id",
        "cluster_id",
        F.when(bk < 80, "train").when(bk < 90, "val").otherwise("test").alias(
            "split"
        ),
    ))
    leaks = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("ida"), F.col("split").alias("sa")),
            "ida",
        )
        .join(
            assigned.select(F.col("doc_id").alias("idb"), F.col("split").alias("sb")),
            "idb",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("leaked"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .select("split", "n_docs", "n_clusters", F.col("leaked").alias("leaked_pairs"))
        .orderBy("split")
    )


COSINE_SWEEP_THRESHOLDS = (0.80, 0.85, 0.90, 0.95, 0.99)


@query(
    "dedup_cosine_threshold_sweep",
    oracle=f"""
    WITH all_vecs AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {COPY_OFFSET}, embedding FROM embeddings
    ),
    normed AS (
        SELECT vec_id, embedding, sqrt({D.sql_dot("embedding", "embedding")}) AS nrm
        FROM all_vecs
    ),
    {{cand_ctes}}
    , scored AS (
        SELECT c.ida, c.idb,
               {D.sql_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
        FROM cand c
        JOIN normed a ON a.vec_id = c.ida
        JOIN normed b ON b.vec_id = c.idb
    ),
    th AS (SELECT CAST(unnest([{", ".join(str(t) for t in COSINE_SWEEP_THRESHOLDS)}])
               AS DOUBLE) AS threshold)
    SELECT th.threshold,
           CAST(count(*) FILTER (WHERE s.cos >= th.threshold) AS BIGINT)
               AS n_pairs,
           CAST(count(DISTINCT CASE WHEN s.cos >= th.threshold THEN s.idb END)
                AS BIGINT) AS n_docs_flagged
    FROM th LEFT JOIN scored s ON TRUE
    GROUP BY th.threshold
    ORDER BY threshold
    """.replace("{cand_ctes}", _sql_cosine_band_ctes()),
    tags=("llm", "dedup", "calibration"),
)
def dedup_cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-dedup THRESHOLD CALIBRATION: the sensitivity sweep a
    curation team runs before committing to a cutoff — candidate pairs
    are scored ONCE (the same 4-band sign-LSH gate + salted bucket
    join as dedup_embedding_cosine), then every threshold in the sweep
    is evaluated against the one scored set (conditional aggregates
    over a 5-row broadcast), reporting surviving pair count and
    flagged-doc count per cutoff. Adding thresholds costs one more
    5-row conditional, never another corpus pass — the property that
    makes the sweep affordable at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.select((F.col("vec_id") + COPY_OFFSET).alias("vec_id"), "embedding")
    normed = pin(e.unionByName(planted).withColumn(
        "nrm", F.sqrt(D.dot_double(F.col("embedding"), F.col("embedding")))
    ))  # bands + 2 lookup joins (scan-leaf lint)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                S.lsh_bucket(F.col("embedding"), b).alias("bucket"),
            )
            for b in range(COSINE_BANDS)
        ]
    )
    bands = normed.select("vec_id", F.explode(band_arr).alias("bk")).select(
        "vec_id", "bk.band", "bk.bucket"
    )
    par = min(spark.sparkContext.defaultParallelism, 64)
    a_side = bands.select(
        "band", "bucket", (F.col("vec_id") % par).cast("int").alias("salt"),
        F.col("vec_id").alias("ida"),
    ).repartition(par, "band", "bucket", "salt")
    b_side = bands.select(
        "band", "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(par - 1))).alias("salt"),
        F.col("vec_id").alias("idb"),
    ).repartition(par, "band", "bucket", "salt")
    cand = (
        a_side.join(b_side, ["band", "bucket", "salt"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    cos = D.dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    scored = (
        cand.join(
            normed.select(
                F.col("vec_id").alias("ida"),
                F.col("embedding").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "ida",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("idb"),
                F.col("embedding").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "idb",
        )
        .select("ida", "idb", cos.alias("cos"))
    )
    th = spark.createDataFrame(
        [(t,) for t in COSINE_SWEEP_THRESHOLDS], "threshold double"
    )
    hit = F.col("cos") >= F.col("threshold")
    return (
        F.broadcast(th)
        .crossJoin(scored)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_pairs"),
            F.count_distinct(F.when(hit, F.col("idb"))).alias("n_docs_flagged"),
        )
        .orderBy("threshold")
    )


XSOURCE_OFFSET = 300_000  # planted cross-source mirror ids


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH all_docs AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        -- mirror every 3rd document into the NEXT source bucket
        SELECT doc_id + {XSOURCE_OFFSET},
               'src' || CAST((CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) + 1) % 20 AS VARCHAR),
               text
        FROM documents WHERE doc_id % 3 = 0
    ),
    canon AS (SELECT doc_id, source, md5(text) AS h FROM all_docs),
    pairs AS (
        SELECT least(a.source, b.source) AS source_a,
               greatest(a.source, b.source) AS source_b,
               count(*) AS n_shared
        FROM canon a JOIN canon b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared
    FROM pairs
    ORDER BY source_a, source_b
    """,
    tags=("llm", "dedup", "metrics"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE duplication matrix — the provenance question exact
    dedup answers next: which pairs of sources share identical
    documents, and how many (mirror sites, syndicated feeds, scraped
    re-posts). Planted mirrors (every 3rd doc copied into the next
    source bucket) give the matrix known mass. Shape: digest group-join
    (one shuffle on the content hash; group sizes are duplicate
    multiplicities, tiny), pair counts keyed by the unordered source
    pair. At web scale the digest join is the same plan as
    dedup_exact; the matrix itself is |sources|² at most — metadata."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    nxt = (
        (F.regexp_extract("source", "src([0-9]+)", 1).cast("int") + 1) % 20
    ).cast("string")
    mirrored = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + XSOURCE_OFFSET).alias("doc_id"),
        F.concat(F.lit("src"), nxt).alias("source"),
        "text",
    )
    canon = pin(
        d.unionByName(mirrored)
        .select("doc_id", "source", F.md5("text").alias("h"))
    )
    a, b = canon.alias("a"), canon.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.least("a.source", "b.source").alias("source_a"),
            F.greatest("a.source", "b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


@query(
    "er_survivorship_golden_record",
    oracle="""
    WITH blocked AS (
        SELECT doc_id, source, lang, n_chars,
               lang || '#' || CAST(n_chars // 50 AS VARCHAR) AS cluster_key
        FROM documents
    ),
    src_votes AS (
        SELECT cluster_key, source, count(*) AS votes,
               ROW_NUMBER() OVER (PARTITION BY cluster_key
                                  ORDER BY count(*) DESC, source) AS vr
        FROM blocked GROUP BY cluster_key, source
    ),
    golden AS (
        SELECT cluster_key,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(doc_id) AS BIGINT) AS survivor_id,
               CAST(max(n_chars) AS BIGINT) AS canonical_n_chars
        FROM blocked GROUP BY cluster_key
    )
    SELECT g.cluster_key, g.n_members, g.survivor_id,
           g.canonical_n_chars, s.source AS canonical_source,
           CAST(s.votes AS BIGINT) AS source_votes
    FROM golden g JOIN src_votes s
      ON g.cluster_key = s.cluster_key AND s.vr = 1
    ORDER BY g.cluster_key
    """,
    tags=("llm", "dedup", "er"),
)
def er_survivorship_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction — the MDM step AFTER
    matching: every match cluster collapses to one canonical record by
    explicit field-level rules (min-id survivor, most-frequent source
    with deterministic tie-break, max-completeness numeric). Clusters
    here come from a deterministic blocking key (lang × length band);
    in the full pipeline the same rules run on dedup_clusters' connected
    components — the rules engine, not the matcher, is what this
    operator adds over er_record_linkage. Two grouped aggregations plus
    a per-cluster vote window (partitioned by cluster, bounded by
    sources-per-cluster) — one corpus scan, cluster-keyed shuffles, no
    pairs materialized."""
    d = load_table(spark, sf_dir, "documents")
    blocked = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(
            F.col("lang"), F.lit("#"), F.floor(F.col("n_chars") / 50).cast("string")
        ).alias("cluster_key"),
    )
    votes = blocked.groupBy("cluster_key", "source").agg(
        F.count(F.lit(1)).alias("votes")
    )
    vw = W.partitionBy("cluster_key").orderBy(F.col("votes").desc(), "source")
    top_src = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            "cluster_key",
            F.col("source").alias("canonical_source"),
            F.col("votes").cast("bigint").alias("source_votes"),
        )
    )
    golden = blocked.groupBy("cluster_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("survivor_id"),
        F.max("n_chars").cast("bigint").alias("canonical_n_chars"),
    )
    return (
        golden.join(top_src, "cluster_key")
        .select(
            "cluster_key",
            "n_members",
            "survivor_id",
            "canonical_n_chars",
            "canonical_source",
            "source_votes",
        )
        .orderBy("cluster_key")
    )


@query(
    "dedup_lsh_quality_audit",
    oracle=f"""
    WITH {_SQL_SHINGLE_CTES},
    {_sql_minhash_cte()},
    true_inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    true_pairs AS (
        SELECT i.ida, i.idb
        FROM true_inter i
        JOIN sizes sa ON i.ida = sa.doc_id
        JOIN sizes sb ON i.idb = sb.doc_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ),
    tp AS (
        SELECT CAST(count(*) AS BIGINT) AS tp
        FROM cand c JOIN true_pairs t ON c.ida = t.ida AND c.idb = t.idb
    ),
    counts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM true_pairs) AS n_true,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT tp FROM tp) AS tp
    )
    SELECT n_true, n_cand, tp,
           n_cand - tp AS fp,
           n_true - tp AS fn,
           round(CASE WHEN n_cand > 0
                      THEN CAST(tp AS DOUBLE) / n_cand ELSE 1.0 END, 9)
               AS precision,
           round(CASE WHEN n_true > 0
                      THEN CAST(tp AS DOUBLE) / n_true ELSE 1.0 END, 9)
               AS recall
    FROM counts
    """,
    tags=("llm", "dedup", "quality"),
)
def dedup_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-quality audit, VALUE-HASHED rather than
    tolerance-tested: the banded minhash candidate set is compared
    against the exact Jaccard-threshold ground truth, reporting
    TP/FP/FN and the realized precision/recall of the band
    configuration (4 bands x 3 rows at threshold 0.8). Both sides are
    already oracle-replayable deterministic pipelines, so the audit
    itself hashes — this is the 'measure, don't guess' answer to 'is
    the S-curve actually delivering the recall the math promises on
    THIS corpus'. Scale: ground truth uses the inverted-index
    (shingle-keyed) exact join — at 100 TB the audit runs on a
    sampled stratum, and the candidate side is the same banded join
    the production dedup runs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    true_pairs = pin(D.jaccard_pairs(d, JACCARD_THRESHOLD).select(
        "ida", "idb"
    ))  # 2 consumers (scan-leaf lint)
    # r13: the merge hint this site carried was DEAD — the pin
    # truncates the plan to a LogicalRDD, dropping any hint attached
    # below it (the HintErrorLogger warning), so since the pin landed
    # the planner has chosen the band-join strategy itself (static SMJ
    # on the stats-free pinned frame, AQE free to convert to broadcast
    # at runtime). Resurrecting the hint post-pin forced SMJ and
    # blocked AQE's conversion — measured slower — so the dead hint is
    # REMOVED rather than revived.
    # self-joined (scan-leaf lint)
    bands = pin(D.band_keys(D.minhash_signature(D.shingle_ids(d))))
    cand = pin(  # 2 consumers (scan-leaf lint)
        bands.alias("a")
        .join(
            bands.alias("b"),
            [F.col("a.band") == F.col("b.band")]
            + [F.col(f"a.k{r}") == F.col(f"b.k{r}") for r in range(D.ROWS_PER_BAND)]
            + [F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    tp = cand.join(true_pairs, ["ida", "idb"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("tp")
    )
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(tp)
        .select(
            "n_true",
            "n_cand",
            "tp",
            (F.col("n_cand") - F.col("tp")).alias("fp"),
            (F.col("n_true") - F.col("tp")).alias("fn"),
            F.round(
                F.when(
                    F.col("n_cand") > 0, F.col("tp").cast("double") / F.col("n_cand")
                ).otherwise(F.lit(1.0)),
                9,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("n_true") > 0, F.col("tp").cast("double") / F.col("n_true")
                ).otherwise(F.lit(1.0)),
                9,
            ).alias("recall"),
        )
    )


EDV_KEY_CHARS = 32  # normalized-prefix blocking key
EDV_VERIFY_CHARS = 160  # edit-distance window
EDV_MAX_DIST = 24  # accept threshold


@query(
    "dedup_edit_distance_verify",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               lower(regexp_replace(substr(text, 1, {EDV_KEY_CHARS}),
                                    '[^a-zA-Z0-9]', '', 'g')) AS k,
               substr(text, 1, {EDV_VERIFY_CHARS}) AS head
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               levenshtein(a.head, b.head) AS dist
        FROM keyed a JOIN keyed b
          ON a.k = b.k AND a.doc_id < b.doc_id
        WHERE a.k <> ''
    )
    SELECT ida, idb, CAST(dist AS BIGINT) AS edit_distance,
           dist <= {EDV_MAX_DIST} AS is_near_dup
    FROM pairs
    ORDER BY ida, idb
    """,
    tags=("llm", "dedup"),
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance VERIFICATION of blocked near-dup candidates — the
    character-level verifier the dedup family was missing (Jaccard and
    SimHash verify set overlap; Levenshtein catches small in-place
    edits that keep the token multiset intact). Candidates block on the
    normalized {EDV_KEY_CHARS}-char prefix (the SNM key discipline);
    each surviving pair pays ONE bounded Levenshtein on the first
    {EDV_VERIFY_CHARS} chars — O({EDV_VERIFY_CHARS}²) DP cells per
    PAIR, JVM-side (Spark's levenshtein builtin), never per-char
    shuffled. At 100 TB the pair set is linear in true near-duplicates
    (exact-prefix groups), the same candidate-bound argument as
    dedup_exact; an unblocked all-pairs Levenshtein is the thing this
    composition exists to avoid."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.lower(
            F.regexp_replace(
                F.substring(F.col("text"), 1, EDV_KEY_CHARS), "[^a-zA-Z0-9]", ""
            )
        ).alias("k"),
        F.substring(F.col("text"), 1, EDV_VERIFY_CHARS).alias("head"),
    ).filter(F.col("k") != "")
    a = keyed.select(
        F.col("doc_id").alias("ida"), F.col("k"), F.col("head").alias("ha")
    )
    b = keyed.select(
        F.col("doc_id").alias("idb"), F.col("k"), F.col("head").alias("hb")
    )
    return (
        a.join(b, ["k"])
        .filter(F.col("ida") < F.col("idb"))
        .select(
            "ida",
            "idb",
            F.levenshtein("ha", "hb").cast("bigint").alias("edit_distance"),
            (F.levenshtein("ha", "hb") <= EDV_MAX_DIST).alias("is_near_dup"),
        )
        .orderBy("ida", "idb")
    )


@query(
    "dedup_pipeline_end_to_end",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTES},
    {_sql_minhash_cte()},
    inter AS (
        SELECT c.ida, c.idb, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.ida
        JOIN sh sb ON sb.doc_id = c.idb AND sb.s = sa.s
        GROUP BY 1, 2
    ),
    jpairs AS (
        SELECT i.ida, i.idb
        FROM inter i
        JOIN sizes sa ON i.ida = sa.doc_id
        JOIN sizes sb ON i.idb = sb.doc_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
    ),
    heads AS (
        SELECT doc_id, substr(text, 1, {EDV_VERIFY_CHARS}) AS head
        FROM documents
    ),
    verified AS (
        SELECT p.ida, p.idb
        FROM jpairs p
        JOIN heads a ON a.doc_id = p.ida
        JOIN heads b ON b.doc_id = p.idb
        WHERE levenshtein(a.head, b.head) <= {EDV_MAX_DIST}
    ),
    edges AS (
        SELECT ida AS src, idb AS dst FROM verified
        UNION
        SELECT idb, ida FROM verified
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
    csize AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           (c.doc_id = c.cluster_id) AS is_survivor
    FROM clusters c JOIN csize s ON c.cluster_id = s.cluster_id
    ORDER BY c.doc_id
    """,
    tags=("llm", "dedup", "pipeline"),
    bench=True,
)
def dedup_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dup curation pipeline as ONE composed plan
    (VERDICT r8 task 7) — the sequence a production training-data
    pipeline actually executes, each stage the registry's own operator:

      1. CANDIDATES: MinHash signatures + LSH banding (dedup_minhash_lsh
         machinery) — one signature aggregate, one merge-hinted band
         self-join; candidates ~ linear in true near-dups.
      2. SET VERIFY: exact Jaccard on candidates via row-local
         array_intersect, >= {JACCARD_THRESHOLD}.
      3. CHAR VERIFY: bounded Levenshtein on the {EDV_VERIFY_CHARS}-char
         heads (dedup_edit_distance_verify's verifier) — one JVM DP per
         surviving pair, catching token-preserving in-place edits.
      4. CLUSTER: connected components (dedup_clusters' operator:
         driver union-find below its edge cap, star-alternation rounds,
         each pinned, above it).
      5. SURVIVE: min-id canonical per cluster + cluster sizes (one
         keyed aggregate joined back).

    Output is the full keep/drop ledger: every document with its
    cluster, cluster size, and survivor flag. 100 TB posture: no stage
    is all-pairs (banded candidates only), the verifies are per-pair
    row-local, CC state is (doc, label) pairs, and the survivor rule is
    an aggregate — the pipeline's cost is corpus-linear plus
    near-dup-linear."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # 1. LSH candidates (identical construction to dedup_minhash_lsh).
    # bands / arrs / heads are each consumed TWICE (self-join or
    # ida/idb lookup pair) inside the CC fixpoint's first pin builder —
    # without their own pins the documents scan ran 12× in that one
    # materialization (pin-interior lint, r13; same pattern as the
    # edit-distance-verify pipeline above).
    sids = D.shingle_ids(d)
    # r13: dead hint removed (see dedup_lsh_quality_audit note) — the
    # pin already dropped it, and reviving it would pin the join to SMJ
    # against AQE's runtime broadcast conversion.
    bands = pin(
        D.band_keys(D.minhash_signature(sids))
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [F.col(f"a.k{r}") == F.col(f"b.k{r}") for r in range(D.ROWS_PER_BAND)]
            + [
                F.col("a.band") == F.col("b.band"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    # 2. exact-Jaccard re-rank on candidates (array-local intersection)
    toks = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    arrs = pin(toks.select(
        "doc_id", D.shingles_of_tokens(F.col("toks")).alias("sh")
    ))  # ida + idb lookup sides
    jacc = (
        cand.join(
            arrs.select(F.col("doc_id").alias("ida"), F.col("sh").alias("sha")), "ida"
        )
        .join(
            arrs.select(F.col("doc_id").alias("idb"), F.col("sh").alias("shb")), "idb"
        )
        .select(
            "ida",
            "idb",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
        .filter(
            F.col("inter")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= JACCARD_THRESHOLD
        )
        .select("ida", "idb")
    )
    # 3. bounded edit-distance verify on the heads
    heads = pin(d.select(
        "doc_id", F.substring(F.col("text"), 1, EDV_VERIFY_CHARS).alias("head")
    ))  # ida + idb lookup sides
    verified = (
        jacc.join(
            heads.select(F.col("doc_id").alias("ida"), F.col("head").alias("ha")),
            "ida",
        )
        .join(
            heads.select(F.col("doc_id").alias("idb"), F.col("head").alias("hb")),
            "idb",
        )
        .filter(F.levenshtein("ha", "hb") <= EDV_MAX_DIST)
        .select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
    )
    # 4. connected components + 5. survivor ledger — member-only labels
    # and sizes (every multi-member cluster lives entirely inside the
    # edge-endpoint set; isolated docs are singleton survivors), so the
    # corpus picks up (cluster_id, cluster_size) through ONE broadcast
    # left join with coalesce defaults instead of a corpus-sized
    # groupBy + corpus-sized join (guide §2.3/§2.4)
    members, bounded = component_members(verified)
    members = members.toDF("doc_id", "cluster_id")
    csize = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    ledger = broadcast_bounded(members.join(csize, "cluster_id"), bounded)
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        d.select("doc_id")
        .join(ledger, "doc_id", "left")
        .select(
            "doc_id",
            cid.alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("bigint")).alias(
                "cluster_size"
            ),
            (F.col("doc_id") == cid).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


JW_THRESHOLD = 0.9  # accept threshold on the verify head


@query(
    "er_jaro_winkler_verify",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               lower(regexp_replace(substr(text, 1, {EDV_KEY_CHARS}),
                                    '[^a-zA-Z0-9]', '', 'g')) AS k,
               substr(text, 1, {EDV_VERIFY_CHARS}) AS head
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               round(jaro_winkler_similarity(a.head, b.head), 6) AS jw
        FROM keyed a JOIN keyed b
          ON a.k = b.k AND a.doc_id < b.doc_id
        WHERE a.k <> ''
    )
    SELECT ida, idb, jw, jw >= {JW_THRESHOLD} AS is_match
    FROM pairs
    ORDER BY ida, idb
    """,
    tags=("llm", "dedup", "er"),
)
def er_jaro_winkler_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler VERIFICATION of blocked candidates — the record-
    linkage verifier (Winkler 1990, the Census Bureau string comparator)
    beside the Levenshtein one: JW rewards shared prefixes and tolerates
    transpositions, the error model of human-keyed names/titles, where
    edit distance over-penalizes swaps. Same normalized-prefix blocking
    as dedup_edit_distance_verify; each candidate pair pays ONE bounded
    JW on the {EDV_VERIFY_CHARS}-char head, computed in an Arrow-batched
    pandas UDF (operators/text.jaro_winkler — the sanctioned Python
    boundary: per-PAIR on blocked candidates only, never per-token, and
    the pair set is linear in true near-dups). The oracle scores the
    SAME pairs with DuckDB's native jaro_winkler_similarity — two
    independent implementations of the published definition must agree
    at round-6 on every candidate or the hash breaks."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from supabase_etl_spark.operators.text import jaro_winkler

    @pandas_udf("double")
    def jw_udf(a, b):  # annotations omitted: PEP-563 strings break inference
        return pd.Series(
            [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.lower(
            F.regexp_replace(
                F.substring(F.col("text"), 1, EDV_KEY_CHARS), "[^a-zA-Z0-9]", ""
            )
        ).alias("k"),
        F.substring(F.col("text"), 1, EDV_VERIFY_CHARS).alias("head"),
    ).filter(F.col("k") != "")
    a = keyed.select(F.col("doc_id").alias("ida"), "k", F.col("head").alias("ha"))
    b = keyed.select(F.col("doc_id").alias("idb"), "k", F.col("head").alias("hb"))
    return (
        a.join(b, ["k"])
        .filter(F.col("ida") < F.col("idb"))
        .select(
            "ida",
            "idb",
            F.round(jw_udf(F.col("ha"), F.col("hb")), 6).alias("jw"),
        )
        .withColumn("is_match", F.col("jw") >= JW_THRESHOLD)
        .orderBy("ida", "idb")
    )


XS_K = 6  # ExactSubstr window length (tokens)


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    win AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(list_slice(t, i, i + {XS_K} - 1), ' ')) AS h
        FROM tok, unnest(range(1, len(t) - {XS_K} + 2)) AS u(i)
        WHERE len(t) >= {XS_K}
    ),
    dup AS (
        SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dw AS (
        SELECT w.doc_id, w.pos FROM win w JOIN dup USING (h)
    ),
    cov AS (
        SELECT DISTINCT doc_id, p
        FROM dw, unnest(range(pos, pos + {XS_K})) AS r(p)
    ),
    per AS (
        SELECT d.doc_id,
               (SELECT count(*) FROM dw WHERE dw.doc_id = d.doc_id) AS n_dup_windows,
               (SELECT count(*) FROM cov WHERE cov.doc_id = d.doc_id) AS n_removed
        FROM tok d
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(p.n_dup_windows AS BIGINT) AS n_dup_windows,
           CAST(p.n_removed AS BIGINT) AS n_removed,
           CAST(len(t.t) - p.n_removed AS BIGINT) AS n_kept
    FROM tok t JOIN per p USING (doc_id)
    ORDER BY t.doc_id
    """,
    tags=("llm", "dedup", "text"),
    bench=True,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING deduplication (the ExactSubstr operator of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): any {XS_K}-token window whose content occurs in ≥2
    distinct documents is a duplicated span; every token covered by a
    duplicated window is removed from the training copy. The published
    implementation builds a single-node suffix array — this is the
    distributed re-expression: overlapping token windows with a
    content hash, one shuffle on the hash to find cross-document
    repeats, and a positional-coverage union per document.

    Output is the per-document removal ledger (window count, tokens
    removed, tokens kept) — the numbers a curation run reports and the
    training-set writer consumes.

    100 TB posture: windows are linear in corpus tokens (one per
    position, K constant); the dup test is ONE hash-keyed
    aggregate+semi-join (never doc×doc); coverage explodes at most
    K rows per duplicated window (linear in true duplication). No
    suffix array, no global sort, no driver state."""
    d = load_table(spark, sf_dir, "documents")
    # scan-once discipline: the tokenized frame feeds the window stream
    # AND the final ledger; the window stream feeds the dup aggregate
    # AND the coverage stage; duplicated windows feed coverage AND the
    # per-doc window count — pinned (pinning.pin), the hygiene
    # gate's one sanctioned storage use (stores MEMORY_AND_DISK)
    tk = pin(d.select("doc_id", tokens(F.col("text")).alias("t")))
    # The window hash only finds repeated windows and the output is the
    # per-document ledger, so any hash that merges no two distinct
    # windows gives the oracle's md5 ledger (identical rows at
    # sf0.001-0.1; tests/test_dedup_ops.py checks the no-merge premise).
    win = pin(tk.filter(F.size("t") >= XS_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {XS_K} + 1), "
                f"i -> struct(i AS pos, "
                f"xxhash64(array_join(slice(t, i, {XS_K}), ' ')) AS h))"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h")))
    dup = (
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dw = pin(win.join(dup, "h", "left_semi"))
    cov = (
        dw.select(
            "doc_id", F.explode(F.sequence("pos", F.col("pos") + XS_K - 1)).alias("p")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    ndw = dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    return (
        tk.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(ndw, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            (F.col("n_tokens") - F.coalesce("n_removed", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("doc_id")
    )


CDC_W = 8  # fingerprint window (chars)
CDC_D = 16  # boundary divisor => expected chunk length ~CDC_D chars
# Rabin-style windowed polynomial fingerprint (the original LBFS CDC
# boundary test, Muthitacharoen et al. 2001 §3.1): f(i) = sum_j
# coef[j] * codepoint(char at window pos j) mod P, boundary where
# f % CDC_D == 0. Replaces r10's per-position md5 — same chunking
# statistics, but the polynomial is 8 multiply-adds both engines
# evaluate natively: numpy-vectorized on the Spark side (mapInPandas,
# the lever SCALE.md named), a plain arithmetic lambda in DuckDB.
# Bounds: codepoint <= 0x10FFFF, coef < P = 1e9+7, 8 terms => sum
# < 2^63 on both engines, no overflow, no wraparound ambiguity.
_CDC_B = 263
_CDC_P = 1_000_000_007
_CDC_COEF = tuple(pow(_CDC_B, CDC_W - 1 - j, _CDC_P) for j in range(CDC_W))
# window ending at position i covers chars i-W+1 .. i (1-based); char
# j (0-based in-window) sits at position i - (W-1-j)
_CDC_SQL_BOUNDS = (
    f"list_append(list_filter(range({CDC_W}, length(text)), i -> ("
    + " + ".join(
        f"CAST({_CDC_COEF[j]} AS BIGINT) * unicode(substr(text, i - {CDC_W - 1 - j}, 1))"
        for j in range(CDC_W)
    )
    + f") % {_CDC_P} % {CDC_D} = 0), length(text))"
)


def _cdc_boundary_batches(batches):
    """mapInPandas kernel: per document, the full boundary-position
    stream in one vectorized pass. utf-32-le decode gives exact code
    points (byte==char only holds for ASCII; this matches DuckDB's
    unicode() for ANY text). For an n-char doc the fingerprint of every
    window is CDC_W shifted multiply-adds over one int64 array — no
    per-position interpreter, no state across positions."""
    import numpy as np

    coef = np.array(_CDC_COEF, dtype=np.int64)
    for pdf in batches:
        bfs = []
        for txt in pdf["text"]:
            n = len(txt)
            if n <= CDC_W:
                bfs.append([n])
                continue
            cp = np.frombuffer(
                txt.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            m = n - CDC_W  # windows ending at positions CDC_W .. n-1
            h = np.zeros(m, dtype=np.int64)
            for j in range(CDC_W):
                h += coef[j] * cp[j : j + m]
            pos = np.nonzero((h % _CDC_P) % CDC_D == 0)[0] + CDC_W
            bfs.append(np.append(pos, n).astype("int32").tolist())
        yield pdf.assign(bf=bfs)


@query(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, text, {_CDC_SQL_BOUNDS} AS bf
        FROM documents
    ),
    ch AS (
        SELECT doc_id,
               md5(substr(text, CASE WHEN i = 1 THEN 0
                                     ELSE list_extract(bf, i - 1) END + 1,
                          list_extract(bf, i)
                          - CASE WHEN i = 1 THEN 0
                                 ELSE list_extract(bf, i - 1) END)) AS h,
               list_extract(bf, i)
               - CASE WHEN i = 1 THEN 0 ELSE list_extract(bf, i - 1) END AS l
        FROM b, unnest(range(1, len(bf) + 1)) AS u(i)
    ),
    dup AS (
        SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    per AS (
        SELECT c.doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks,
               CAST(sum(CASE WHEN d.h IS NOT NULL THEN c.l ELSE 0 END) AS BIGINT)
                   AS dup_chars
        FROM ch c LEFT JOIN dup d USING (h)
        GROUP BY c.doc_id
    )
    SELECT b.doc_id,
           CAST(length(b.text) AS BIGINT) AS total_chars,
           CAST(p.n_chunks AS BIGINT) AS n_chunks,
           p.n_dup_chunks, p.dup_chars
    FROM b JOIN per p USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("llm", "dedup", "chunking"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS storage
    primitive, Muthitacharoen et al. 2001): chunk boundaries land where
    a {CDC_W}-char Rabin-style windowed polynomial fingerprint hits 0
    mod {CDC_D}, so an insertion early in a document shifts only the
    chunk it touches — unlike fixed-size blocks, identical content
    re-chunks identically at any offset. Chunks are content-hashed
    (md5 ledger, unchanged from r10) and deduplicated across the
    corpus; the per-document ledger reports chunk counts and
    duplicated bytes (what a dedup storage layer would save).

    Distributed shape: boundary detection is ONE Arrow-batched
    mapInPandas pass — per doc, every window's fingerprint is {CDC_W}
    numpy multiply-adds over the code-point array (r10's interpreted
    per-position md5 higher-order filter was the registry's largest
    constant, 6.8s at sf0.1; SCALE.md named this exact lever). Still
    stateless across positions and rows. Chunk structs explode at ~1
    row per {CDC_D} chars, and cross-doc dedup is ONE hash-keyed
    aggregate + broadcast-back — linear in corpus bytes."""
    d = load_table(spark, sf_dir, "documents")
    # scan-once: boundaries feed the chunk stream AND the final ledger;
    # chunks feed the dup aggregate AND the per-doc rollup
    b = pin(d.select("doc_id", "text").mapInPandas(
        _cdc_boundary_batches, "doc_id bigint, text string, bf array<int>"
    ))
    ch = pin(b.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(bf)), i -> struct("
                "md5(substring(text, IF(i = 1, 0, element_at(bf, i - 1)) + 1, "
                "element_at(bf, i) - IF(i = 1, 0, element_at(bf, i - 1)))) AS h, "
                "element_at(bf, i) - IF(i = 1, 0, element_at(bf, i - 1)) AS l))"
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.h").alias("h"), F.col("c.l").alias("l")))
    dup = (
        ch.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("is_dup"))
    )
    per = (
        ch.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("is_dup"), F.col("l")).otherwise(0))
            .cast("bigint")
            .alias("dup_chars"),
        )
    )
    return (
        b.select("doc_id", F.length("text").cast("bigint").alias("total_chars"))
        .join(per, "doc_id")
        .select("doc_id", "total_chars", "n_chunks", "n_dup_chunks", "dup_chars")
        .orderBy("doc_id")
    )


# LSH band planner grid: midpoint Riemann rule over similarity space.
# 200 exact-rational midpoints s_i = (i + 0.5)/200 make the integral
# split at the 0.8 threshold boundary-unambiguous (s_i is never exactly
# 0.8), so both engines bucket every grid point identically.
PLANNER_GRID = 200


@query(
    "dedup_lsh_band_planner",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    combos AS (
        SELECT b, r FROM (SELECT unnest(range(1, {D.NUM_HASHES} + 1)) AS b),
                          (SELECT unnest(range(1, {D.NUM_HASHES} + 1)) AS r)
        WHERE b * r <= {D.NUM_HASHES}
    ),
    grid AS (
        SELECT (unnest(range(0, {PLANNER_GRID})) + 0.5) / {PLANNER_GRID}.0 AS s
    ),
    curve AS (
        SELECT c.b, c.r, g.s,
               1.0 - pow(1.0 - pow(g.s, c.r), c.b) AS p
        FROM combos c, grid g
    ),
    areas AS (
        SELECT b, r,
               SUM(CASE WHEN s < {JACCARD_THRESHOLD} THEN p ELSE 0 END)
                   / {PLANNER_GRID}.0 AS fp_area,
               SUM(CASE WHEN s > {JACCARD_THRESHOLD} THEN 1.0 - p ELSE 0 END)
                   / {PLANNER_GRID}.0 AS fn_area
        FROM curve GROUP BY b, r
    )
    SELECT CAST(a.b AS BIGINT) AS b, CAST(a.r AS BIGINT) AS r,
           CAST(a.b * a.r AS BIGINT) AS n_hashes_used,
           round(pow(1.0 / a.b, 1.0 / a.r), 6) AS s50,
           round(a.fp_area, 6) AS fp_area,
           round(a.fn_area, 6) AS fn_area,
           round(a.fp_area + a.fn_area, 6) AS total_err,
           round(n.n_docs * (n.n_docs - 1) / 2.0 * a.fp_area, 3)
               AS exp_fp_pairs_uniform,
           (a.b = {D.BANDS} AND a.r = {D.ROWS_PER_BAND}) AS is_current
    FROM areas a, n
    ORDER BY total_err, b, r
    """,
    tags=("llm", "dedup", "planner"),
)
def dedup_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter planner — the S-curve tuning step every
    MinHash deployment does BEFORE spending a cluster pass (Leskovec,
    Rajaraman & Ullman, MMDS ch.3): for every (bands b, rows-per-band
    r) within the signature budget, the candidate-collision curve is
    p(s) = 1 − (1 − s^r)^b; the planner integrates its false-positive
    mass below the Jaccard threshold and false-negative mass above it
    (midpoint rule, PLANNER_GRID-point exact-rational grid) and ranks
    configurations by total error, flagging the engine's own committed
    (b=BANDS, r=ROWS_PER_BAND) config. exp_fp_pairs_uniform
    scales fp_area by C(n_docs, 2) — the uniform-similarity UPPER BAND
    on wasted candidate verifications, the number that decides whether
    a 100 TB dedup run drowns in verify work. Cost shape: one O(1)
    corpus count plus a broadcast closed-form grid (35 combos × 200
    points); corpus-independent, like the sampling family's grid
    queries. Pow() is libm on both engines (≤1 ulp apart, not
    bit-contracted), so every float column rounds at 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    combos = (
        n.select(
            "n_docs",
            F.explode(F.sequence(F.lit(1), F.lit(D.NUM_HASHES))).alias("b"),
        )
        .select(
            "n_docs",
            "b",
            F.explode(F.sequence(F.lit(1), F.lit(D.NUM_HASHES))).alias("r"),
        )
        .filter(F.col("b") * F.col("r") <= D.NUM_HASHES)
    )
    curve = combos.select(
        "n_docs",
        "b",
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(PLANNER_GRID - 1))).alias("i"),
    ).select(
        "n_docs",
        "b",
        "r",
        ((F.col("i") + 0.5) / PLANNER_GRID).alias("s"),
    ).select(
        "n_docs",
        "b",
        "r",
        "s",
        (
            F.lit(1.0)
            - F.pow(F.lit(1.0) - F.pow(F.col("s"), F.col("r")), F.col("b"))
        ).alias("p"),
    )
    areas = curve.groupBy("n_docs", "b", "r").agg(
        (
            F.sum(F.when(F.col("s") < JACCARD_THRESHOLD, F.col("p")).otherwise(0.0))
            / PLANNER_GRID
        ).alias("fp_area"),
        (
            F.sum(
                F.when(F.col("s") > JACCARD_THRESHOLD, 1.0 - F.col("p")).otherwise(0.0)
            )
            / PLANNER_GRID
        ).alias("fn_area"),
    )
    return areas.select(
        F.col("b").cast("bigint").alias("b"),
        F.col("r").cast("bigint").alias("r"),
        (F.col("b") * F.col("r")).cast("bigint").alias("n_hashes_used"),
        F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6).alias("s50"),
        F.round("fp_area", 6).alias("fp_area"),
        F.round("fn_area", 6).alias("fn_area"),
        F.round(F.col("fp_area") + F.col("fn_area"), 6).alias("total_err"),
        F.round(
            F.col("n_docs") * (F.col("n_docs") - 1) / 2.0 * F.col("fp_area"), 3
        ).alias("exp_fp_pairs_uniform"),
        ((F.col("b") == D.BANDS) & (F.col("r") == D.ROWS_PER_BAND)).alias(
            "is_current"
        ),
    ).orderBy("total_err", "b", "r")
