"""Storage hygiene: composing operators must not leak executor storage.

ADVICE r3: the dedup/triangle operators cached intermediates without
unpersist, so a library user running several queries on one session
accumulated InMemoryRelation blocks that only a harness-level
clearCache() would free. r4 removed those caches outright — the band
self-joins reuse their identical Exchanges (ReusedExchange) instead of
pinning storage, and A/B at sf0.1 measured every cache as a net loss.
This test is the regression gate: run the formerly-caching queries
back-to-back on one session, fully materialized, WITHOUT any
clearCache(), and assert no new persistent RDDs or cached tables
remain. (Queries that use localCheckpoint for lineage truncation are
excluded — checkpoint blocks are freed by the ContextCleaner on GC,
which is asynchronous by design.)
"""

from __future__ import annotations

from conftest import persistent_rdds

from supabase_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"

# every query that cached an intermediate before r4. As of r12 ALL of
# them live in the sanctioned localCheckpoint class (the scan-leaf
# lint pinned their signature/edge tables), so the gate sharpened
# instead of emptying: the queries still run back-to-back with no
# clearCache(), and every persistent RDD they leave behind must be a
# LOCALLY-CHECKPOINTED pin (ContextCleaner-freed on GC, per the
# exclusion above) — a cache()/persist()-style block fails the test.
# tests/test_storage_hygiene_registry.py additionally source-lints
# persist()/cache() out of the whole registry.
FORMERLY_CACHING = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_prefix",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "graph_triangle_count",
]


def test_composed_queries_leave_no_storage_behind(spark):
    qs = load_all()
    before = set(persistent_rdds(spark))
    for name in FORMERLY_CACHING:
        assert name in qs, f"registry lost {name}"
        qs[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
    after = persistent_rdds(spark)
    unsanctioned = {
        k: v.toString()
        for k, v in after.items()
        if k not in before and not v.rdd().isLocallyCheckpointed()
    }
    assert not unsanctioned, (
        "queries left NON-checkpoint persistent RDDs behind "
        f"(cache()/persist() residue): {unsanctioned}"
    )
    cached_tables = [
        t.name for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)
    ]
    assert not cached_tables, f"queries left cached tables behind: {cached_tables}"
