"""The engine's one pin primitive.

The engine pins every multi-consumer intermediate with ``pin(df)`` —
the scan-once discipline the scan-leaf lint enforces
(tests/test_scan_leaf_lint.py) — and materializes frames whose values
depend on being computed once (a ``spark_partition_id`` binding, a
sampled range partitioning) with ``pin(df, eager=True)``. No module
outside this one calls ``localCheckpoint`` or ``checkpoint``
(tests/test_pin_durability.py lints the source).

``SPARK_GRAFT_PIN_MODE`` picks the durability of every pin, read on
each call, for every session (SCALE.md §pin-durability):

    local     (default) ``localCheckpoint``: blocks in executor-local
              storage (MEMORY_AND_DISK), lineage truncated. Fastest;
              a lost executor's blocks are unrecoverable, so the job
              fails instead of recomputing. Right for on-demand /
              non-preemptible clusters and local runs.
    reliable  ``checkpoint`` to SPARK_GRAFT_CHECKPOINT_DIR (HDFS/S3 on
              a cluster) unless the context already has a checkpoint
              directory: blocks survive executor loss at the cost of a
              write to durable storage. Right for preemptible/spot
              fleets.

Both modes materialize, so results are identical under either. There
is no unpinned mode: the correctness pins above return wrong values
without one.

Iteration policy. Every loop that runs until its state stops changing
(star-alternation connected components above the driver's edge cap,
Bellman-Ford; operators/cc.py, queries/analytics.py) goes through
``fixpoint``: each
step's output is pinned LAZILY and one ``filter("chg").count()`` both
materializes that pin and decides convergence, so a round costs one
action. An eager pin would cost a second one: its materialization job
plus a separate convergence job over the cached blocks. The next round
reads the pinned blocks, so the plan of every round, and of the
returned frame, is as deep as one step for any round count. A loop
that has not converged within its round cap raises instead of
returning a silently wrong state. Loops with a fixed round count (LPA,
k-core, k-truss, k-means, ...) have no convergence check and stay
hand-written: their oracles replay exactly that count.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def pin_mode() -> str:
    mode = os.environ.get("SPARK_GRAFT_PIN_MODE", "local")
    if mode not in ("local", "reliable"):
        raise ValueError(f"SPARK_GRAFT_PIN_MODE={mode!r}: expected local|reliable")
    return mode


def pin(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage. Lazy by
    default: the first action over the result writes the blocks."""
    if pin_mode() == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark-graft-checkpoints"
                )
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Apply ``step`` until a round changes no row; return that state.

    ``step(state)`` returns the next state plus a boolean ``chg``
    column, true on every row the round changed. The returned frame
    has the state's columns without ``chg``. Raises RuntimeError,
    naming ``what`` and the rows still changing, when ``max_rounds``
    rounds pass without converging."""
    changed = 0
    for _ in range(max_rounds):
        nxt = pin(step(state))
        changed = nxt.filter("chg").count()
        state = nxt.drop("chg")
        if changed == 0:
            return state
    raise RuntimeError(
        f"{what}: not converged in {max_rounds} rounds "
        f"({changed} rows still changing)"
    )
