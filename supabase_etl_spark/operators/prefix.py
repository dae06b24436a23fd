"""Distributed exact prefix sums — global running totals without a
single-partition window.

``Window.orderBy(...)`` with no partition key drags the whole dataset
through one task; the distributed construction is the same two-pass
shape as a distributed rank (dedup_sorted_neighborhood): range-
repartition on the sort key, compute per-partition running sums with a
partition-local window, then add each partition's prefix offset — the
cumulative total of all earlier partitions, a P-row frame broadcast
back. With decimal value types every path is exact, so the result is
bit-equal to the sequential window regardless of partition boundaries
(pinned by tests/test_prefix_sum.py against the naive window on random
data).

Cost: one range shuffle + one P-row side computation. The offsets
window runs over P rows (partition count), not data — bounded by
cluster parallelism, never by data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from supabase_etl_spark.pinning import pin

_PID = "__pfx_pid"
_LOCAL = "__pfx_local"
_OFF = "__pfx_off"


def distributed_cumsum(
    df: DataFrame,
    value: str,
    order: list[Column],
    out: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out`` = running sum of ``value`` in the total order given
    by ``order`` (must be a total order for a well-defined result;
    include a tie-breaking key). ``value`` should be a decimal column
    for exactness."""
    spark = df.sparkSession
    par = num_partitions or spark.sparkContext.defaultParallelism
    # the eager pin is CORRECTNESS here, not an optimization: `local`
    # and `offsets` below both consume `ranged`, and without
    # materialization each consumer re-evaluates the plan —
    # repartitionByRange re-SAMPLES its range boundaries per
    # evaluation, so over a nondeterministically-ordered input (any
    # shuffle output) the two consumers can see DIFFERENT partition
    # assignments and the offsets no longer describe the local sums
    # (observed: chained cumsums over a groupBy output produced a
    # wrong KS statistic; pinned by
    # tests/test_prefix_sum.py::test_chained_cumsum_over_shuffle_output).
    ranged = pin(
        df.repartitionByRange(par, *order)
        .withColumn(_PID, F.spark_partition_id()),
        eager=True,
    )
    wloc = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn(_LOCAL, F.sum(value).over(wloc))
    offsets = (
        ranged.groupBy(_PID)
        .agg(F.sum(value).alias("__ptot"))
        .withColumn(
            _OFF,
            F.coalesce(
                F.sum("__ptot").over(
                    Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(_PID, _OFF)
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(out, F.col(_LOCAL) + F.col(_OFF))
        .drop(_PID, _LOCAL, _OFF)
    )


def distributed_cumsums(
    df: DataFrame,
    values: list[str],
    order: list[Column],
    outs: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """``distributed_cumsum`` over SEVERAL value columns sharing one
    total order — one range shuffle, one checkpoint, one P-row offsets
    frame carrying every column's partition totals (instead of one full
    pass per value). Risk-set style consumers (survival/Cox, Lorenz)
    need 2-4 running sums over the same ordering; paying the shuffle
    once keeps the plan the same size as a single cumsum."""
    spark = df.sparkSession
    par = num_partitions or spark.sparkContext.defaultParallelism
    # Same correctness checkpoint as distributed_cumsum: both consumers
    # must see ONE materialized range partitioning.
    ranged = pin(
        df.repartitionByRange(par, *order)
        .withColumn(_PID, F.spark_partition_id()),
        eager=True,
    )
    wloc = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.select(
        "*", *[F.sum(v).over(wloc).alias(f"{_LOCAL}_{i}") for i, v in enumerate(values)]
    )
    woff = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy(_PID)
        .agg(*[F.sum(v).alias(f"__ptot_{i}") for i, v in enumerate(values)])
        .select(
            _PID,
            *[
                F.coalesce(F.sum(f"__ptot_{i}").over(woff), F.lit(0)).alias(
                    f"{_OFF}_{i}"
                )
                for i in range(len(values))
            ],
        )
    )
    out = local.join(F.broadcast(offsets), _PID)
    for i, name in enumerate(outs):
        out = out.withColumn(name, F.col(f"{_LOCAL}_{i}") + F.col(f"{_OFF}_{i}"))
    return out.drop(
        _PID, *[f"{_LOCAL}_{i}" for i in range(len(values))],
        *[f"{_OFF}_{i}" for i in range(len(values))],
    )


def distributed_rank(
    df: DataFrame,
    order: list[Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out`` = row_number() in the total order ``order`` (must be
    a total order — include a tie-breaking key), computed as the
    distributed prefix count: range-repartition on the sort key,
    per-partition local row numbers, plus each partition's broadcast
    offset. Bit-equal to ``row_number() OVER (ORDER BY ...)`` without
    dragging the dataset through one task (pinned by
    tests/test_prefix_sum.py)."""
    tagged = df.withColumn("__pfx_one", F.lit(1).cast("bigint"))
    return distributed_cumsum(
        tagged, "__pfx_one", order, out=out, num_partitions=num_partitions
    ).drop("__pfx_one")


def ntile_from_rank(rn: Column, n: Column, buckets: int) -> Column:
    """Exact NTILE(buckets) from a 1-based rank and the total row count
    — SQL semantics: the first ``n % buckets`` tiles get
    ``n div buckets + 1`` rows, the rest ``n div buckets``. All-integer
    arithmetic, so the swap for a global-order ntile window is
    bit-exact in any engine. ``greatest(base, 1)`` only guards the
    never-taken branch when n < buckets (every tile then has one row
    and the first branch covers all ranks)."""
    base = (n / buckets).cast("bigint")
    rem = n % buckets
    cut = rem * (base + 1)
    return (
        F.when(rn <= cut, ((rn - 1) / (base + 1)).cast("bigint") + 1)
        .otherwise(rem + ((rn - cut - 1) / F.greatest(base, F.lit(1))).cast("bigint") + 1)
        .cast("int")
    )
