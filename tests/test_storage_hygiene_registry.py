"""Registry-wide storage hygiene: NO query may leak executor storage.

Generalizes tests/test_cache_hygiene.py (which pins the 7 formerly-
caching dedup/graph queries) to the ENTIRE query registry: every
registered query is fully materialized at sf0.001 on a shared session
and checked for storage residue.

Why this matters at 100 TB: a library user composes dozens of these
operators on one long-lived session. A query that persists an
intermediate without releasing it pins executor storage memory for the
life of the session — at cluster scale that is cached corpus blocks
evicting shuffle/execution memory for every later job.

The contract this test enforces, deterministically (no GC dependence —
Spark does free dropped blocks via the ContextCleaner, but only after
a driver GC whose timing is not testable):

  * a query may leave behind ONLY localCheckpoint blocks — lineage
    truncation is the one sanctioned use of executor storage (iterative
    fixpoints, and the documented bounded case in
    io_corrupt_records_permissive);
  * cache()/persist() residue and cached tables are forbidden
    outright — every such block found here is a bug (r3's ADVICE
    class, removed wholesale in r4);
  * checkpoint residue must be SMALL (a handful of blocks per query,
    not per-row state), and the test releases it explicitly so the
    sweep itself cannot accumulate across 240+ queries.
"""

from __future__ import annotations

import pytest

from conftest import persistent_rdds, registry_sweep_params

from supabase_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"

_REGISTRY = load_all()

# Upper bound on localCheckpoint blocks a single query may pin. The
# biggest legitimate user is a fixpoint (one block per converged
# round); anything past this reads as a per-item leak.
MAX_CKPT_BLOCKS = 12


@pytest.mark.parametrize("name", registry_sweep_params(sorted(_REGISTRY)))
def test_query_leaves_no_storage_behind(spark, name):
    spec = _REGISTRY[name]
    before = set(persistent_rdds(spark))
    df = spec.fn(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    del df

    after = persistent_rdds(spark)
    leaked = {rid: rdd for rid, rdd in after.items() if rid not in before}

    non_ckpt = []
    for rid, jrdd in leaked.items():
        try:
            is_ckpt = jrdd is not None and jrdd.rdd().isLocallyCheckpointed()
        except Exception:
            is_ckpt = False  # freed between snapshot and probe
        if jrdd is not None and not is_ckpt:
            non_ckpt.append(rid)

    # release checkpoint residue now instead of waiting for driver GC,
    # so the sweep stays clean query-over-query
    for rid, jrdd in leaked.items():
        if jrdd is not None and rid not in non_ckpt:
            try:
                jrdd.unpersist()
            except Exception:
                pass

    assert not non_ckpt, (
        f"{name} left non-checkpoint persisted RDDs behind: {sorted(non_ckpt)}"
    )
    assert len(leaked) <= MAX_CKPT_BLOCKS, (
        f"{name} pinned {len(leaked)} checkpoint blocks — "
        f"bounded lineage truncation should need <= {MAX_CKPT_BLOCKS}"
    )
    cached_tables = [
        t.name for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)
    ]
    assert not cached_tables, f"{name} left cached tables behind: {cached_tables}"
