"""Deduplication operators (SURVEY.md §2.2 "LLM ops": exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine).

The reference deduplicates nothing (its upsert sink is the only
idempotency mechanism, etl_supabase.py:71-85); this module is the
training-data-pipeline mandate.

Cross-engine determinism strategy: every hashing step is expressed over
**dense shingle/token ids** (dense_rank over the sorted distinct
vocabulary) with explicit LCG-style hash coefficients, so the DuckDB
oracle can replay the identical algorithm bit-for-bit. At 100 TB the
dictionary stage is replaced by `xxhash64(shingle)` — same plan shape,
no global dictionary — the swap is a one-line change noted on each
operator. Everything else (inverted-index joins, band-bucket joins,
per-pair re-rank) is shuffle-on-key and scales linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from supabase_etl_spark.operators.text import tokens
from supabase_etl_spark.pinning import pin

SHINGLE_K = 3  # word n-gram width

# MinHash: h_i(x) = (A_i * x + B_i) mod P over dense shingle ids.
# Coefficients from a fixed LCG so Spark exprs and oracle SQL share them.
MINHASH_P = 2_147_483_647
NUM_HASHES = 12
BANDS = 4  # 4 bands x 3 rows
ROWS_PER_BAND = NUM_HASHES // BANDS


def _lcg(seed: int):
    while True:
        seed = (1103515245 * seed + 12345) % 2_147_483_648
        yield seed


_gen = _lcg(20260813)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (next(_gen) % (MINHASH_P - 1) + 1, next(_gen) % MINHASH_P) for _ in range(NUM_HASHES)
]

# SimHash: 32-bit signature from token-id hashes weighted by term counts.
SIMHASH_BITS = 32
SIMHASH_A, SIMHASH_B = 1_103_515_245, 12_345
SIMHASH_M = 2_147_483_648
# Pair stage bands the signature into byte keys: a Hamming<=3 pair has
# at most 3 differing bytes, so >=1 of the 4 bytes matches (pigeonhole)
# and the per-band equi-join loses no recall.
SIMHASH_BANDS = SIMHASH_BITS // 8


def shingles_of_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles over a *materialized* token-array
    column. The token array MUST be a plain column reference, not the
    tokenization expression itself: Catalyst does no common-subexpression
    elimination inside lambda bodies, so slicing `tokens(text)` directly
    re-runs the regex split once per shingle position — O(tokens²) per
    document (measured 5.7s vs sub-second on sf0.1's 260k shingles)."""
    n = F.greatest(F.lit(1), F.size(toks) - F.lit(k - 1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(k))),
        )
    )


def shingles(col: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles of a text column. Prefer a two-step
    select via :func:`shingles_of_tokens` on hot paths (see its
    docstring); this convenience form is fine for small inputs.
    Documents shorter than k tokens contribute their full token run as
    one shingle."""
    return shingles_of_tokens(tokens(col), k)


def sql_shingles(text: str = "text", k: int = SHINGLE_K) -> str:
    """DuckDB mirror of :func:`shingles` (1-based list slicing)."""
    toks = f"list_filter(regexp_split_to_array({text}, '\\s+'), t -> t <> '')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(1, len({toks}) - {k - 1}) + 1), "
        f"i -> array_to_string({toks}[i:i+{k - 1}], ' ')))"
    )


def exploded_shingles(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) — the inverted-index input. Tokenizes once per
    row into a materialized array, then shingles.

    Repartitions the input first: a small single-file corpus scans as
    ONE partition, which would serialize the whole explode on a single
    core (measured 3.4s → 1.4s on sf0.1). The pre-explode shuffle is
    tiny (raw docs); at 100 TB the scan already has thousands of splits
    and the repartition collapses into a no-op-sized rebalance."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, id_col)
    toks = docs.select(id_col, tokens(F.col("text")).alias("toks"))
    return toks.select(id_col, F.explode(shingles_of_tokens(F.col("toks"))).alias("s"))


def jaccard_pairs(
    docs: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted-index
    self-join: pairs sharing >=1 shingle → intersection counts → filter
    |A∩B| / |A∪B| >= threshold. Returns (ida, idb, inter, na, nb, jacc).

    Cost is Σ_s df(s)² pair-rows — optimal while shingle document
    frequency is bounded (testdata max df≈25 ⇒ ~1.3M pair-rows at
    sf0.1). On web-scale corpora stop-n-grams make df skew quadratic;
    switch to :func:`jaccard_pairs_prefix`, which is result-identical
    and immune to df skew.

    Shingles are reduced to xxhash64 keys before the self-join: 8-byte
    fixed keys shuffle and compare ~25-30% faster than the ~25-char
    strings, and intersection counts only need key *equality*, not the
    key text. A 64-bit collision between two of the corpus's distinct
    shingles (p ≈ n²/2⁶⁵ ≈ 2e-11 at 27k shingles) would add 1 to one
    pair's intersection — accepted and documented.
    """
    sh = pin(exploded_shingles(docs, id_col).select(
        id_col, F.xxhash64("s").alias("s")
    ))  # sizes + both join sides (scan-leaf lint)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("ida"), F.col(f"b.{id_col}").alias("idb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_tail(inter, sizes, id_col, threshold)


def jaccard_pairs_prefix(
    docs: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Result-identical to :func:`jaccard_pairs`, computed with **prefix
    filtering** (the set-similarity-join classic — PPJoin family):
    order each document's shingles by global rarity (df asc, shingle
    asc); any pair with Jaccard >= t must share a shingle inside each
    side's first ``n - ceil(t*n) + 1`` shingles, so only those prefixes
    are joined and frequent stop-n-grams never reach the candidate
    stage — zero recall loss, df-skew-proof. Exact intersection counts
    are then computed only for candidate pairs.

    threshold is fixed at 0.8 so the prefix bound uses exact integer
    arithmetic (ceil(0.8*n) == (4n+4) div 5) — float ceil can overshoot
    on values like 0.8*35 and silently shorten the prefix.

    On the bounded-df testdata this loses to the naive join (extra
    ranking shuffle + candidate re-expansion); at 100 TB with skewed
    shingles it is the only shape that survives.

    Two measured shuffle-width levers (scale-curve, 10x corpus): (a)
    shingles reduce to xxhash64 keys before any shuffle, like
    :func:`jaccard_pairs` — the prefix bound holds under ANY consistent
    global shingle order, so ranking by (df, hash) instead of (df,
    string) changes which shingles form a prefix but not the recall
    guarantee, and 8-byte keys shuffle ~2x lighter than ~25-char
    strings through the rank window, the candidate join, AND the
    re-expansion; (b) the per-doc row_number and count run in ONE
    window pass (count over the same ordered spec with an unbounded
    frame) instead of two sorts of the exploded corpus.
    """
    assert threshold == 0.8, "prefix bound hardcoded for t=0.8 (see docstring)"
    sh = pin(exploded_shingles(docs, id_col).select(
        id_col, F.xxhash64("s").alias("s")
    ))  # df, rank, sizes, re-expansion sides (scan-leaf lint)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy(id_col).orderBy("df", "s")
    w_n = w_rank.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (
        sh.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
    )
    prefix_len = F.col("n") - F.floor((4 * F.col("n") + 4) / 5) + 1
    prefix = pin(ranked.filter(F.col("rn") <= prefix_len).select(
        id_col, "s", "rn", "n"
    ))  # self-joined (scan-leaf lint)
    # Candidate pruning (the other two PPJoin bounds — measured on the
    # 10x scale curve, these cut candidate pairs ~1.2M → ~tens of k
    # BEFORE the per-shingle re-expansion join, which is |cand| x
    # doc_shingles rows and dominates the pipeline if fed raw):
    #   * length filter: jacc >= 0.8 forces 5*min(na,nb) >= 4*max —
    #     sizes more than 25% apart can never qualify;
    #   * positional filter: a prefix match at ranks (ra, rb) bounds the
    #     overlap by min(na-ra, nb-rb) + 1, which must reach
    #     minoverlap = ceil(0.8/1.8 * (na+nb)) = (4(na+nb)+8) div 9.
    # Both remove only provably-unreachable pairs — result-identical
    # (equality vs the naive join is pinned in tests/test_dedup_ops.py).
    na, nb = F.col("a.n"), F.col("b.n")
    ubound = F.least(na - F.col("a.rn"), nb - F.col("b.rn")) + 1
    minoverlap = F.floor((4 * (na + nb) + 8) / 9)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            (5 * F.least(na, nb) >= 4 * F.greatest(na, nb))
            & (ubound >= minoverlap)
        )
        .select(F.col(f"a.{id_col}").alias("ida"), F.col(f"b.{id_col}").alias("idb"))
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("ida"), "s")
    sb = sh.select(F.col(id_col).alias("idb"), "s")
    inter = (
        cand.join(sa, "ida")
        .join(sb, ["idb", "s"])
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_tail(inter, sizes, id_col, threshold)


def _jaccard_tail(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Join set sizes, compute jacc, filter — shared by both variants."""
    return (
        inter.join(sizes.select(F.col(id_col).alias("ida"), F.col("n").alias("na")), "ida")
        .join(sizes.select(F.col(id_col).alias("idb"), F.col("n").alias("nb")), "idb")
        .withColumn("jacc", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jacc") >= threshold)
        .select("ida", "idb", "inter", "na", "nb", "jacc")
    )


def strhash(col: Column) -> Column:
    """Polynomial codepoint hash mod P — the cross-engine deterministic
    row hash (h = h*31 + code, the classic Java string hash, kept below
    2^31 so products never overflow bigint). Both engines fold the
    identical sequence (F.aggregate ≙ list_reduce with prepended init),
    so hashed ids replay bit-for-bit in the oracle — unlike xxhash64,
    which only Spark can compute. Purely row-local: this is also the
    100 TB path (no dictionary, no global sort)."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(MINHASH_P),
    )


def sql_strhash(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(unicode(c) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {MINHASH_P})"
    )


def shingle_ids(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sid): shingles hashed to ids inline via :func:`strhash`.
    Hash collisions (p ≈ n²/2P) merely merge two shingles inside the
    MinHash sketch — a sketch of a sketch, identical in both engines —
    while the exact-Jaccard re-rank still runs on shingle strings."""
    sh = exploded_shingles(docs, id_col)
    return sh.select(id_col, strhash(F.col("s")).alias("sid"))


def minhash_signature(doc_sids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, h0..h{N-1}) — min over shingle ids of each LCG hash."""
    sid = F.col("sid").cast("bigint")
    aggs = [
        F.min((F.lit(a).cast("bigint") * sid + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return doc_sids.groupBy(id_col).agg(*aggs)


def band_keys(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, k1..k{r}) — one row per LSH band."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    F.col(f"h{b * ROWS_PER_BAND + r}").alias(f"k{r}")
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for b in range(BANDS)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("bk")).select(
        id_col, "bk.band", *[f"bk.k{r}" for r in range(ROWS_PER_BAND)]
    )


def dot_double(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product — identical fold order to the
    DuckDB oracle (list_reduce), so doubles match bitwise. `+ 0.0`
    normalizes a potential -0.0. Array-local: no shuffle, no UDF."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(0.0)
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"(list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(acc, x) -> acc + x) + 0.0)"
    )


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b)))


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"
