"""Registry-wide plan lint: NO query may rescan its parquet sources
through silent lineage recompute (VERDICT r11 task 2 — mechanize the
unpinned-shared-lineage audit that has now struck three times:
dedup_incremental_ingest in r10 with 48 scan leaves over 2 tables, and
the r11 histogram-match / Good-Turing debuts with 5 and 3 leaves over
1 table, all caught only by the builder's manual plan-audit habit).

The defect: a shared intermediate frame consumed by k downstream
expressions is re-derived k times by Catalyst unless pinned with
``pinning.pin(df)``, so the PHYSICAL plan carries k
copies of the whole upstream lineage — visible as k ``Scan parquet``
leaves per source. Correct at sf0.01; at 100 TB it multiplies the
dominant cost (the corpus scan) by k.

The lint walks every registered query's physical plan and counts
``FileSourceScanExec`` leaves (ReusedExchange subtrees are shared
execution, not re-scans, and are not descended). Budget:

    #distinct scanned paths + 1 + len(spec.scans)

One incidental extra pass (a min/max bounds probe, a broadcast dim
re-read) is free; every leaf beyond that must be sanctioned by one
justification string in the QuerySpec's ``scans`` annotation — a
genuine algorithmic multi-pass (self-join, per-granularity second
pass), never recompute. The default slack of 1 is deliberately the
largest value that would have caught ALL THREE historical instances
(Good-Turing pre-fix read 3 leaves over 1 table: 3 > 1+1).

Like the window lint, the budget is checked against the ANNOTATION
COUNT, not prose: more leaves than sanctioned fails the build.

Known blind spot: a pinned subtree's lineage is replaced with a
LogicalRDD, so recompute INSIDE a pin's first materialization is
invisible here (exactly as in PLANS.md). The lint therefore audits the
plan the query's consumers execute; tests/test_pin_interior_lint.py
audits the pinned builders.
"""

from __future__ import annotations

import pytest

from conftest import registry_sweep_params

from supabase_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"

_REGISTRY = load_all()


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def scan_leaves(df) -> list[str]:
    """Root paths of every FileSourceScanExec in the physical plan,
    one entry per scan node (duplicates = the same path scanned more
    than once)."""
    out: list[str] = []

    def walk(node, depth=0):
        if depth > 400:
            return
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.inputPlan(), depth + 1)
            return
        if cls == "ReusedExchangeExec":
            return
        if cls == "FileSourceScanExec":
            try:
                path = node.relation().location().rootPaths().apply(0).toString()
            except Exception:
                path = "?"
            out.append(path)
            return
        for kid in _children(node):
            walk(kid, depth + 1)

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.mark.parametrize("name", registry_sweep_params(sorted(_REGISTRY)))
def test_scan_leaf_budget(spark, name):
    spec = _REGISTRY[name]
    df = spec.fn(spark, SF)
    leaves = scan_leaves(df)
    budget = len(set(leaves)) + 1 + len(spec.scans)
    assert len(leaves) <= budget, (
        f"{name}: {len(leaves)} parquet-scan leaves over "
        f"{len(set(leaves))} distinct path(s), but the budget is "
        f"{budget} ({len(spec.scans)} sanctioned by scans annotations).\n"
        "A shared intermediate is being re-derived per consumer — pin it "
        "with pinning.pin(df) (the storage-hygiene lint "
        "forbids persist/cache), or — ONLY for a genuine algorithmic "
        "multi-pass over the source — add a scans justification to the "
        "@query decorator.\nLeaves:\n  " + "\n  ".join(leaves)
    )
