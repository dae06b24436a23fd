"""Pin-INTERIOR scan lint: close the scan-leaf lint's blind spot
(VERDICT r12 task 3).

tests/test_scan_leaf_lint.py audits the plan a query's CONSUMERS
execute; a ``pinning.pin(df)`` truncates its subtree to a
LogicalRDD, so recompute inside a pin's one-time materialization is
invisible there. With ~110 pins landed in the r12 sweep, the un-gated
surface moved INTO the builders — exactly where a shared sub-frame
consumed twice within one builder would silently double the corpus
scan at 100 TB.

Mechanism: ``pinning.pin`` is the engine's only pin path and, under
the default ``local`` mode, calls ``DataFrame.localCheckpoint``; a spy
(conftest's ``pin_spy``) wrapped around that method records the pre-pin DataFrame (the BUILDER
frame) at every pin the query creates while its plan is being
constructed — the frames the query ACTUALLY checkpoints, not a
re-implementation that could drift. Each
recorded builder's own physical plan is then audited with the same
budget as the outer lint:

    #distinct scanned paths + 1

Nested pins appear inside later builders as RDD scans (already
truncated) and are audited separately at their own recording, so each
layer of lineage is counted exactly once. A query whose builders
genuinely need a multi-pass sanctions the excess with one
justification string per extra leaf in the QuerySpec's ``pin_scans``
annotation (summed across that query's builders), mirroring ``scans``.

The spy calls straight through to the real method, so plan
construction is unchanged; with eager=False no job runs during
recording.
"""

from __future__ import annotations

import pytest

from conftest import registry_sweep_params

from supabase_etl_spark.queries import load_all
from tests.test_scan_leaf_lint import scan_leaves

SF = "/root/testdata/sf0.001"

_REGISTRY = load_all()


@pytest.mark.parametrize("name", registry_sweep_params(sorted(_REGISTRY)))
def test_pin_interior_scan_budget(spark, pin_spy, name):
    spec = _REGISTRY[name]
    spec.fn(spark, SF)  # plan construction records the builders
    if not pin_spy:
        pytest.skip("query pins nothing")
    excess = 0
    report: list[str] = []
    for i, builder in enumerate(pin_spy):
        leaves = scan_leaves(builder)
        budget = len(set(leaves)) + 1
        if len(leaves) > budget:
            excess += len(leaves) - budget
            report.append(
                f"  builder[{i}]: {len(leaves)} leaves over "
                f"{len(set(leaves))} distinct path(s):\n    "
                + "\n    ".join(leaves)
            )
    assert excess <= len(spec.pin_scans), (
        f"{name}: {excess} unsanctioned parquet-scan leaves INSIDE "
        f"pinned builder frames ({len(spec.pin_scans)} sanctioned by "
        "pin_scans annotations). A shared sub-frame is re-derived "
        "within a builder's one-time materialization — pin the inner "
        "shared frame too, or sanction a genuine builder multi-pass "
        "with a pin_scans justification.\n" + "\n".join(report)
    )
