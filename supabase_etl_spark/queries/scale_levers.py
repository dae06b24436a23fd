"""Measured evidence for the scale levers (VERDICT r1 item 10).

`operators/scale.salted_join` existed with equality tests only; these
two bench-flagged queries put the skew lever on the per-round record:
identical semantics (same DuckDB oracle, hash-matched) computed with
and without salting over a deliberately skewed key, so BENCH_r{N}.json
carries the salted-vs-plain timing side by side at sf0.1.

The skew: ~80% of lineitem rows collapse onto key 0 (every l_orderkey
not divisible by 5), the rest spread over 100 keys — the one-hot-key
shape AQE's skew splitting handles for *shuffle sizing* but which still
serializes a single reducer's aggregation when the hot key exceeds one
task's share. Salting fans the hot key across 16 lanes at the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.scale import salted_join
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query

SALT_BUCKETS = 16

_SKEW_ORACLE = """
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 5 > 0 THEN 0 ELSE l_partkey % 100 END AS k,
               l_quantity
        FROM lineitem
    ),
    dim AS (
        SELECT p_partkey % 100 AS k, count(*) AS n_parts FROM part GROUP BY 1
    )
    SELECT f.k AS k, count(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           min(d.n_parts) AS n_parts
    FROM fact f JOIN dim d ON f.k = d.k
    GROUP BY f.k
    ORDER BY f.k
"""


def _skew_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = F.when(F.col("l_orderkey") % 5 > 0, F.lit(0)).otherwise(
        F.col("l_partkey") % 100
    )
    return li.select(k.cast("bigint").alias("k"), "l_quantity", "l_orderkey")


def _skew_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy((F.col("p_partkey") % 100).cast("bigint").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def _skew_agg(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"),
            F.min("n_parts").alias("n_parts"),
        )
        .orderBy("k")
    )


@query("scale_skew_join_plain", oracle=_SKEW_ORACLE, tags=("scale",), bench=True)
def scale_skew_join_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline: plain equi-join on the skewed key; AQE skew-join
    splitting is on (session factory) and is the only defense."""
    f = _skew_fact(spark, sf_dir)
    d = _skew_dim(spark, sf_dir)
    return _skew_agg(f.join(d, "k"))


@query("scale_skew_join_salted", oracle=_SKEW_ORACLE, tags=("scale",), bench=True)
def scale_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics through operators/scale.salted_join: the fact
    side fans over 16 deterministic salt lanes keyed by l_orderkey, the
    dim side replicates per lane, the join key becomes (k, salt) — the
    hot key's rows spread over 16 reducers instead of one. Result- and
    hash-identical to the plain variant (same oracle)."""
    f = _skew_fact(spark, sf_dir)
    d = _skew_dim(spark, sf_dir)
    joined = salted_join(
        f, d, "k", salt_buckets=SALT_BUCKETS, salt_source=F.col("l_orderkey")
    )
    return _skew_agg(joined)


@query(
    "scale_bucketed_join",
    oracle="""
    SELECT l_orderkey,
           count(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(max(o_totalprice) AS DOUBLE) AS totalprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderkey <= 3000
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    tags=("scale", "join", "bucketed"),
)
def scale_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-Exchange co-bucketed join as a registered query (the plan
    shape itself is pinned by tests/test_scale_ops.py): both sides are
    written `bucketBy(8, key)` + sorted, so the sort-merge join reads
    pre-partitioned, pre-sorted buckets — no shuffle stage AT ALL for
    the join. At 100 TB this is the lever for a recurring big⋈big join
    on a stable key: pay the bucketed write once, every subsequent join
    skips its Exchange. Unique table names per (session, sf) keep
    warehouse dirs from colliding across harness runs."""
    import shutil
    import uuid

    from supabase_etl_spark.operators.scale import write_bucketed

    suffix = uuid.uuid4().hex[:8]
    t_li, t_o = f"bq_lineitem_{suffix}", f"bq_orders_{suffix}"
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_totalprice")
    )
    write_bucketed(li, t_li, "l_orderkey", n_buckets=8, sort_key="l_orderkey")
    write_bucketed(o, t_o, "o_orderkey", n_buckets=8, sort_key="o_orderkey")
    bl, bo = spark.table(t_li), spark.table(t_o)
    out = pin(
        bl.hint("merge")
        .join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"),
            F.max("o_totalprice").cast("double").alias("totalprice"),
        )
        .orderBy("l_orderkey"),
        eager=True,
    )
    # managed scratch tables: drop after materialization so repeated
    # harness runs don't accumulate warehouse dirs
    for t in (t_li, t_o):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    return out


@query(
    "scale_bucketed_colocated_join",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_quantity, l_extendedprice
        FROM lineitem WHERE l_orderkey <= 6000
    ),
    o AS (
        SELECT o_orderkey, o_orderstatus
        FROM orders WHERE o_orderkey <= 6000
    )
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(li.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
               AS total_price,
           TRUE AS join_shuffle_free
    FROM li JOIN o ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    tags=("scale", "join", "bucketing"),
)
def scale_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join — the pre-shuffle lever the skew pair
    demonstrates salting for: both sides persist as managed tables
    bucketed 8 ways on the join key (operators/scale.write_bucketed),
    and the subsequent sort-merge join needs NO Exchange on either
    side — the plan is asserted shuffle-free at the join and the flag
    rides the value-hashed result. At 100 TB this converts every
    repeated fact-to-fact join on the same key from two corpus-sized
    shuffles into zero (the bucketed-table contract warehouses build
    their nightly-join layer on).

    The one-time bucketing write IS a shuffle — the lever pays off on
    the second join onward, which is why it's a table layout, not a
    per-query hint."""
    from supabase_etl_spark.operators.scale import write_bucketed

    # saveAsTable refuses a name whose warehouse dir survives from an
    # earlier run (stale spark-warehouse in the repo): drop first
    for t in ("bj_lineitem", "bj_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil as _sh

        _sh.rmtree(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            + f"/{t}",
            ignore_errors=True,
        )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 6000
    ).select("l_orderkey", "l_quantity", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 6000
    ).select("o_orderkey", "o_orderstatus")
    write_bucketed(li, "bj_lineitem", "l_orderkey", n_buckets=8, sort_key="l_orderkey")
    write_bucketed(o, "bj_orders", "o_orderkey", n_buckets=8, sort_key="o_orderkey")
    lt = spark.table("bj_lineitem")
    ot = spark.table("bj_orders")
    # hint merge: without it the small side broadcasts and the
    # bucketing proof never materializes (the co-location claim is
    # about the SHUFFLE join path)
    joined = lt.hint("merge").join(ot.hint("merge"), lt["l_orderkey"] == ot["o_orderkey"])
    # plan proof: no Exchange between the scans and the join
    plan = joined._jdf.queryExecution().executedPlan().toString()
    join_idx = max(plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"))
    shuffle_free = join_idx >= 0 and "Exchange" not in plan[join_idx:]
    out = (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            "o_orderstatus",
            "n_lines",
            "total_qty",
            "total_price",
            F.lit(bool(shuffle_free)).alias("join_shuffle_free"),
        )
        .orderBy("o_orderstatus")
    )
    return out


@query(
    "scale_aqe_rebalance",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("scale", "aqe"),
)
def scale_aqe_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AQE REBALANCE lever: `.hint('rebalance', key)` inserts a
    RebalancePartitions node that AQE resolves at RUNTIME into evenly
    sized partitions — splitting skewed shuffle blocks and coalescing
    tiny ones (the fix for both the hot-key writer file and the
    thousand-small-files problem, without hand-tuning a repartition
    count). Result-transparent by contract: the oracle is the plain
    aggregate, and the query asserts the hint survived into the
    analyzed plan (`rebalance_in_plan`), the same proof style as the
    bucketed-join Exchange check.

    100 TB: REBALANCE before a write is the difference between one
    10 GB file + 999 empty ones and 1000 ~10 MB files under a skewed
    partition key; before a join it is AQE's skew-split applied to ANY
    downstream op. Costs one shuffle it was going to pay anyway —
    the skew-join salted twin covers the join-specific variant."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    balanced = li.hint("rebalance", "l_returnflag")
    plan = balanced._jdf.queryExecution().optimizedPlan().toString()
    rebalance_in_plan = "RebalancePartitions" in plan or "rebalance" in plan.lower()
    out = (
        balanced.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )
    assert rebalance_in_plan, "REBALANCE hint did not reach the optimized plan"
    return out


@query(
    "agg_exact_median_distributed",
    oracle="""
    WITH v AS (
        SELECT l_extendedprice AS x,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS rn
        FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    sel AS (
        SELECT x FROM v CROSS JOIN n
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
    ),
    p90 AS (
        SELECT x FROM v CROSS JOIN n WHERE rn = (9 * n + 9) // 10
    )
    SELECT (SELECT n FROM n) AS n_rows,
           round(CAST((SELECT sum(CAST(x AS DECIMAL(28,6))) FROM sel)
                      AS DOUBLE)
                 / (SELECT count(*) FROM sel), 6) AS median_cont,
           (SELECT max(x) FROM p90) AS p90_disc
    """,
    tags=("agg", "percentile", "scale"),
)
def agg_exact_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median (and a discrete p90) of a corpus-sized
    column with NO single-task sort and NO per-group value buffer —
    the scale-lever alternative to `percentile()` (agg_percentiles),
    whose ObjectHashAggregate collects every group value into one
    task's memory and to `approx_percentile`, which trades exactness
    away. The order statistic comes from operators/prefix.
    distributed_rank (range shuffle + partition-local row numbers +
    broadcast offsets — bit-equal to the global window, pinned in
    tests/test_prefix_sum.py); the target ranks ((n+1)//2, n//2+1,
    ceil(0.9n)) are integer arithmetic on the broadcast 1-row count.
    Even-n interpolation averages the two middle values through an
    exact decimal sum. This is how a 100 TB median is actually
    computed: two corpus passes (count + ranked scan), everything else
    row-count-free."""
    from supabase_etl_spark.operators.prefix import distributed_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x"), "l_orderkey", "l_linenumber"
    )
    cnt = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = distributed_rank(
        li, order=[F.col("x").asc(), F.col("l_orderkey"), F.col("l_linenumber")]
    )
    lo = F.floor((F.col("n") + 1) / 2).cast("bigint")
    hi = (F.floor(F.col("n") / 2) + 1).cast("bigint")
    r90 = F.floor((9 * F.col("n") + 9) / 10).cast("bigint")
    sel = ranked.crossJoin(F.broadcast(cnt)).filter(
        (F.col("rn") == lo) | (F.col("rn") == hi) | (F.col("rn") == r90)
    )
    return sel.groupBy("n").agg(
        F.round(
            F.sum(
                F.when(
                    (F.col("rn") == lo) | (F.col("rn") == hi),
                    F.col("x").cast("decimal(28,6)"),
                )
            ).cast("double")
            / F.count(
                F.when((F.col("rn") == lo) | (F.col("rn") == hi), F.lit(1))
            ),
            6,
        ).alias("median_cont"),
        F.max(F.when(F.col("rn") == r90, F.col("x"))).alias("p90_disc"),
    ).select(F.col("n").alias("n_rows"), "median_cont", "p90_disc")
