"""Aggregation surface (SURVEY.md §2.2 "Aggregation").

Group-by, global, rollup/cube/grouping-sets, exact+approx distinct,
percentiles, pivot/unpivot, ordered collect. All hash-aggregate plans
with map-side partial aggregation; stddev/variance are computed from
exact decimal moments so the values are order-independent and match
the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query
from supabase_etl_spark.queries._helpers import davg, dsum, sql_davg, sql_dsum


@query(
    "agg_group_variety",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           {sql_dsum("l_quantity", "sum_qty")},
           {sql_davg("l_quantity", "avg_qty")},
           CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty,
           round(sqrt((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity))
                 / (COUNT(l_quantity) - 1)), 6) AS stddev_qty,
           min_by(l_orderkey, l_shipdate || '|' || lpad(CAST(l_orderkey AS VARCHAR), 20, '0'))
             AS first_shipped_order
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg",),
    bench=True,
)
def agg_group_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count distinct / sum / avg / min / max / stddev /
    ordered-first per group.

    stddev from exact decimal moments: sqrt((Σx² − (Σx)²/n)/(n−1)) —
    order-independent, unlike the native streaming variance whose
    float accumulation differs between engines. min_by over a
    (shipdate, orderkey) composite gives a deterministic ordered-first.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sum_q = F.sum(q.cast("decimal(28,6)")).cast("double")
    sum_q2 = F.sum((q * q).cast("decimal(28,6)")).cast("double")
    n = F.count(q)
    # Ordered-first as a pure-bigint min: a min_by whose ordering key is
    # a struct (or string) forces SortAggregate — the whole input gets
    # sorted. Encoding (ship day, orderkey) into one bigint keeps every
    # aggregate hash-able (plan: HashAggregate end to end). Safe while
    # orderkey < 10^12 and shipdates are midnight-aligned (both hold for
    # this schema; at larger key ranges widen the multiplier).
    ship_day = F.floor(
        F.unix_micros(F.col("l_shipdate").cast("timestamp")) / F.lit(86_400_000_000)
    )
    first_key = F.min(ship_day * F.lit(1_000_000_000_000) + F.col("l_orderkey"))
    # COUNT(DISTINCT) mixed with other aggregates makes Catalyst Expand
    # every input row (one copy per distinct group), dragging the seven
    # decimal aggregates through 2x the rows. Computing the distinct
    # count as its own two-level aggregation and joining the 3-row
    # results is ~2.5x faster and bit-identical.
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(q, "sum_qty"),
        davg(q, "avg_qty"),
        F.min(q).cast("double").alias("min_qty"),
        F.max(q).cast("double").alias("max_qty"),
        F.round(F.sqrt((sum_q2 - sum_q * sum_q / n) / (n - 1)), 6).alias("stddev_qty"),
        (first_key % F.lit(1_000_000_000_000)).alias("first_shipped_order"),
    )
    distinct_orders = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        base.join(distinct_orders, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "n_orders",
            "sum_qty",
            "avg_qty",
            "min_qty",
            "max_qty",
            "stddev_qty",
            "first_shipped_order",
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           {sql_dsum("l_extendedprice", "total_price")},
           {sql_davg("l_discount", "avg_discount")},
           CAST(min(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(max(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        dsum(F.col("l_extendedprice"), "total_price"),
        davg(F.col("l_discount"), "avg_discount"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           GROUPING(l_returnflag, l_linestatus) AS gid
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — hierarchical subtotals + grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity"), "sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           GROUPING(o_orderstatus, o_orderpriority) AS gid
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


@query(
    "agg_distinct_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_suppkey
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus, l_suppkey
    """,
    tags=("agg", "dedup"),
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct over a projection."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus", "l_suppkey")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "l_suppkey")
    )


@query(
    "agg_dedup_survivor",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM ranked WHERE rn = 1
    ORDER BY o_custkey
    """,
    tags=("agg", "dedup"),
)
def agg_dedup_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates(subset): survivor picked by an
    explicit ordering (highest totalprice, orderkey tiebreak) instead
    of Spark's arbitrary first-seen row (SURVEY §2.2 dedup note)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


@query(
    "agg_approx_count_distinct",
    oracle=None,  # approximate by design; exactness checked in tests vs rsd bound
    tags=("agg", "approx"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    countDistinct's shuffle is too expensive. Compared against the
    exact count within rsd in tests/test_approx.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


@query(
    "agg_hll_sketch_rollup",
    oracle=None,  # sketch estimates; mergeability + accuracy asserted in tests
    tags=("agg", "approx", "sketch"),
)
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 4 built-ins):
    per-status distinct-customer sketches UNIONED into a grand total
    without rescanning — `hll_union_agg` over the per-group
    `hll_sketch_agg` binaries. This is the layer a 100 TB warehouse
    actually persists: partial sketches per partition/day, merged at
    query time, never a re-shuffle of raw keys. The union estimate
    equals the whole-table sketch estimate exactly (union of sketches
    over a partition of the data IS the sketch of the whole —
    asserted in tests/test_tolerance.py)."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    groups = per_group.select(
        "o_orderstatus",
        "n_rows",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
    )
    total = per_group.agg(
        F.lit("ALL").alias("o_orderstatus"),
        F.sum("n_rows").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
    )
    return groups.unionByName(total).orderBy("o_orderstatus")


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, item
    LIMIT 5
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (Spark 4 `approx_top_k`, DataSketches):
    top-5 event types by count. The sketch guarantee makes this
    hash-checkable against the EXACT oracle: counts are exact whenever
    tracked items never evict (maxItemsTracked=64 ≫ 5 distinct event
    types), and merging per-partition sketches preserves that — the
    same mergeability contract as the HLL rollup, which is what lets a
    100 TB cluster keep per-day sketches and answer 'top domains this
    year' without re-scanning."""
    e = load_table(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 5, 64)").alias("tk"))
    return (
        topk.select(F.explode("tk").alias("x"))
        .select(F.col("x.item").alias("item"), F.col("x.count").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "item")
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 6) AS p25,
           round(CAST(quantile_cont(o_totalprice, 0.5)  AS DOUBLE), 6) AS p50,
           round(CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE), 6) AS p75,
           CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS p50_disc
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous + discrete percentiles per group."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .cast("double")
            .alias("p50_disc"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) FILTER (l_linestatus = 'O') AS DOUBLE)
             AS qty_open,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) FILTER (l_linestatus = 'F') AS DOUBLE)
             AS qty_finished,
           COUNT(*) FILTER (l_linestatus = 'O') AS n_open,
           COUNT(*) FILTER (l_linestatus = 'F') AS n_finished
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with an explicit value list (required for a
    deterministic schema — and at scale it avoids a discovery pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("O_qty").alias("qty_open"),
        F.col("F_qty").alias("qty_finished"),
        F.col("O_n").alias("n_open"),
        F.col("F_n").alias("n_finished"),
    ).orderBy("l_returnflag")


@query(
    "agg_unpivot",
    oracle="""
    SELECT p_partkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT p_partkey,
               CAST(p_retailprice AS DOUBLE) AS retailprice,
               CAST(p_size AS DOUBLE) AS size
        FROM part
    )
    UNPIVOT (val FOR metric IN (retailprice, size))
    ORDER BY p_partkey, metric
    """,
    tags=("agg", "unpivot"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (the reference's statements are wide frames
    keyed by year — this is the inverse reshape, SURVEY §1.4)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_retailprice").cast("double").alias("retailprice"),
            F.col("p_size").cast("double").alias("size"),
        )
        .unpivot("p_partkey", ["retailprice", "size"], "metric", "val")
        .orderBy("p_partkey", "metric")
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS nations,
           array_to_string(list_sort(list(DISTINCT n_nationkey % 5)), ',') AS distinct_mods
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("agg", "collect"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set with explicit sort for determinism,
    serialized to a string so both engines hash identically."""
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set(F.col("n_nationkey") % 5)),
                    lambda v: v.cast("string"),
                ),
                ",",
            ).alias("distinct_mods"),
        )
        .orderBy("n_regionkey")
    )


@query("agg_approx_quantiles", oracle=None, tags=("agg", "approx"))
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx sketch quantiles of order totalprice (SURVEY
    §2.2 "approx quantiles" — tolerance-checked against the exact
    percentiles in tests/test_tolerance.py; the sketch's merge is
    deterministic but not SQL-replayable, so rows-only here)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75, 0.99], 10_000).alias("approx_q")
    ).select(
        F.col("approx_q")[0].alias("q25"),
        F.col("approx_q")[1].alias("q50"),
        F.col("approx_q")[2].alias("q75"),
        F.col("approx_q")[3].alias("q99"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 30000) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 30000) * 30000 AS DOUBLE) AS bucket_lo,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
    ORDER BY bucket
    """,
    tags=("agg",),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (30k-wide buckets of order value):
    the binning expression is the group key, so the plan is an ordinary
    partial+final hash agg — the scalable histogram (contrast
    driver-side rdd.histogram, which collects bounds)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 30000)
    return (
        o.groupBy(
            bucket.cast("bigint").alias("bucket"),
            (bucket * 30000).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), "total"),
        )
        .orderBy("bucket")
    )


@query(
    "agg_correlation",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(
             (count(*) * CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                * CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE))
             / (sqrt(count(*) * CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                     - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE))
                * sqrt(count(*) * CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                       - CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                         * CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE))),
             6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg",),
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from exact decimal moments
    (n·Σxy − Σx·Σy over the√-product of variances) — deterministic
    across engines, unlike the native streaming `corr` whose float
    accumulation order differs. Same one-pass partial-agg plan."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    sx = F.sum(x.cast("decimal(28,6)")).cast("double")
    sy = F.sum(y.cast("decimal(28,6)")).cast("double")
    sxy = F.sum((x * y).cast("decimal(38,6)")).cast("double")
    sxx = F.sum((x * x).cast("decimal(38,6)")).cast("double")
    syy = F.sum((y * y).cast("decimal(38,6)")).cast("double")
    n = F.count(F.lit(1))
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(n.alias("n"), F.round(corr, 6).alias("corr_qty_price"))
        .orderBy("l_returnflag")
    )


@query("agg_freq_items", oracle=None, tags=("agg", "approx"))
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter sketch (`df.stat.freqItems`, Karp et al. one-pass
    counting): candidate values exceeding 30% support for returnflag /
    linestatus. Rows-only check (the sketch may over-report by design —
    false positives allowed, false negatives not); the semantic floor
    (every truly-frequent value present) is asserted in
    tests/test_tolerance.py."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.stat.freqItems(["l_returnflag", "l_linestatus"], support=0.3)
    # Join to scalar strings: the driver's canonicalizer sorts rows via
    # pandas, which cannot sort/hash array cells (unhashable-list crash).
    return out.select(
        F.concat_ws(",", F.array_sort(F.col("l_returnflag_freqItems"))).alias(
            "returnflag_candidates"
        ),
        F.concat_ws(",", F.array_sort(F.col("l_linestatus_freqItems"))).alias(
            "linestatus_candidates"
        ),
    )


@query(
    "agg_argminmax_mode",
    oracle="""
    SELECT l_returnflag,
           arg_max(l_suppkey, lpad(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), 20, '0')
                              || lpad(CAST(l_suppkey AS VARCHAR), 10, '0')) AS supp_of_last_line,
           arg_min(l_suppkey, lpad(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), 20, '0')
                              || lpad(CAST(l_suppkey AS VARCHAR), 10, '0')) AS supp_of_first_line,
           mode(CASE WHEN l_quantity > 45 THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
               AS qty_mode_bucket,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "argminmax"),
)
def agg_argminmax_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional aggregates: max_by/min_by (SQL-standard arg_max/
    arg_min) pick a payload column at the extremum of an ordering key,
    and mode() returns the most frequent value. All three are one-pass
    hash aggregates with map-side partials — at 100 TB they reduce to
    one shuffle of k groups, never a sort.

    Determinism: the ordering key is (l_orderkey·10 + l_linenumber)
    zero-padded with the payload l_suppkey appended as the final
    tie-break — the synthetic data contains duplicate (orderkey,
    linenumber) pairs, so the line key alone would let each engine pick
    a different suppkey at a tied extremum. The mode argument collapses
    ~90 % of rows into bucket 0, so the mode is unique by construction
    (mode over a near-uniform column would tie-break
    engine-dependently)."""
    li = load_table(spark, sf_dir, "lineitem")
    line_key = F.concat(
        F.lpad((F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string"), 20, "0"),
        F.lpad(F.col("l_suppkey").cast("string"), 10, "0"),
    )
    qty_bucket = (
        F.when(F.col("l_quantity") > 45, F.col("l_quantity").cast("bigint"))
        .otherwise(F.lit(0))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.max_by("l_suppkey", line_key).alias("supp_of_last_line"),
            F.min_by("l_suppkey", line_key).alias("supp_of_first_line"),
            F.mode(qty_bucket).alias("qty_mode_bucket"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_boolean_family",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 900)   AS all_over_900,
           bool_or(o_orderstatus = 'F')   AS any_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_open
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("agg", "boolean"),
)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: count_if / bool_and (SQL EVERY) /
    bool_or (SQL ANY) — predicate rollups as single hash aggregates
    with map-side partials, the idiomatic replacement for
    filter-then-count subqueries that each rescan the input."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 900).alias("all_over_900"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.sum(
                F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)
            ).cast("bigint").alias("n_open"),
        )
        .orderBy("o_orderpriority")
    )


EQUIDEPTH_BINS = 10


@query(
    "agg_histogram_equidepth",
    oracle=f"""
    WITH bounds AS (
        SELECT quantile_cont(o_totalprice,
                   [x / {EQUIDEPTH_BINS}.0 FOR x IN range(1, {EQUIDEPTH_BINS})]) AS qs
        FROM orders
    ),
    binned AS (
        SELECT len(list_filter(b.qs, q -> q < o.o_totalprice)) AS bin
        FROM orders o CROSS JOIN bounds b
    )
    SELECT bin, count(*) AS n
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    tags=("agg", "histogram"),
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram: bin edges at exact deciles,
    then one scan counts rows per bin — the selectivity-estimation
    structure CBO builds from (ANALYZE ... FOR COLUMNS computes
    exactly this). Two passes: an exact percentile aggregate (single
    reduce to 9 doubles, broadcast back), then a scan-side bin
    assignment via the number of edges below the value — identical
    strict-inequality rule replayed in the oracle, so ties land in the
    same bin in both engines."""
    o = load_table(spark, sf_dir, "orders")
    edges = o.agg(
        F.expr(
            "percentile(o_totalprice, array({}))".format(
                ", ".join(str(i / EQUIDEPTH_BINS) for i in range(1, EQUIDEPTH_BINS))
            )
        ).alias("qs")
    )
    binned = o.crossJoin(F.broadcast(edges)).select(
        F.size(F.filter(F.col("qs"), lambda q: q < F.col("o_totalprice"))).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n")).orderBy("bin")


@query(
    "agg_listagg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
    tags=("agg", "string"),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard LISTAGG (Spark 4 `listagg` WITHIN GROUP ORDER BY ≡
    DuckDB `string_agg ORDER BY`): ordered string concatenation per
    group. The explicit intra-group ordering is what makes the result
    deterministic — an unordered listagg concatenates in partition
    arrival order and can never hash-match across engines."""
    from supabase_etl_spark.io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations_csv,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """
    )


@query(
    "agg_regression_family",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS regr_n,
           round(sx / n, 6) AS regr_avgx,
           round(sy / n, 6) AS regr_avgy,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS regr_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS regr_intercept,
           round(((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx)
                  / sqrt(n * syy - sy * sy))
                 * ((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx)
                    / sqrt(n * syy - sy * sy)), 6) AS regr_r2
    FROM m
    ORDER BY l_returnflag
    """,
    tags=("agg", "regression"),
)
def agg_regression_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (SQL-standard REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2 / REGR_AVGX / REGR_AVGY / REGR_COUNT
    semantics — the per-group OLS fit y = a·x + b a feature pipeline
    computes per segment).

    Native ``F.regr_*`` streams float moments in partition order, so
    the last few bits differ from a sequential engine; instead the five
    moments Σx Σy Σx² Σy² Σxy accumulate as exact decimals (one
    map-side-combined HashAggregate, order-independent) and the closed
    forms are evaluated on the reduced 3-row result with the identical
    expression tree as the oracle — bit-for-bit double equality, same
    trick as ``agg_group_variety``'s stddev. Scale shape: one scan,
    one skinny shuffle of 6 decimal cells per group, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r = (n * sxy - sx * sy) / F.sqrt(n * sxx - sx * sx) / F.sqrt(n * syy - sy * sy)
    return m.select(
        "l_returnflag",
        n.alias("regr_n"),
        F.round(sx / n, 6).alias("regr_avgx"),
        F.round(sy / n, 6).alias("regr_avgy"),
        F.round(slope, 6).alias("regr_slope"),
        F.round((sy - slope * sx) / n, 6).alias("regr_intercept"),
        F.round(r * r, 6).alias("regr_r2"),
    ).orderBy("l_returnflag")


TDIGEST_BUCKETS = 32  # simulated shards for the partial-digest stage


@query(
    "agg_tdigest_quantile_rollup",
    # No SQL-expressible oracle: the digest is a custom mergeable
    # sketch. tests/test_tolerance.py pins rank-error <= 2/K against
    # exact percentiles and the union==whole merge property.
    oracle=None,
    tags=("agg", "approx", "sketch"),
)
def agg_tdigest_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-digest rollup — the quantile analogue of
    agg_hll_sketch_rollup: per-(group, shard) digests built where the
    data lives, then MERGED per group without revisiting raw rows.
    That two-level shape is the only way a 100 TB warehouse serves
    quantiles at interactive rollup granularity: partial sketches are
    K=64 (mean, count) pairs (~1 KB), so the second shuffle carries
    kilobytes per group instead of the column itself.

    Shards are simulated deterministically as l_orderkey % 32 (a real
    deployment uses the ingest partition); both stages run as
    Arrow-batched applyInPandas over numpy (operators/tdigest.py)."""
    import pandas as pd

    from supabase_etl_spark.operators import tdigest as TD

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.pmod(F.col("l_orderkey"), F.lit(TDIGEST_BUCKETS)).alias("bucket"),
        "l_extendedprice",
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        means, counts = TD.build_digest(pdf["l_extendedprice"].to_numpy())
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "means": [means.tolist()],
                "counts": [counts.tolist()],
            }
        )

    partials = li.groupBy("l_returnflag", "bucket").applyInPandas(
        build, schema="l_returnflag string, means array<double>, counts array<long>"
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        means = np.concatenate([np.asarray(x) for x in pdf["means"]])
        counts = np.concatenate([np.asarray(x) for x in pdf["counts"]])
        m, c = TD.merge_digests(means, counts)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "n": [int(c.sum())],
                "n_centroids": [int(len(m))],
                "q10": [TD.digest_quantile(m, c, 0.10)],
                "q50": [TD.digest_quantile(m, c, 0.50)],
                "q90": [TD.digest_quantile(m, c, 0.90)],
                "q99": [TD.digest_quantile(m, c, 0.99)],
            }
        )

    return (
        partials.groupBy("l_returnflag")
        .applyInPandas(
            merge,
            schema=(
                "l_returnflag string, n bigint, n_centroids int, "
                "q10 double, q50 double, q90 double, q99 double"
            ),
        )
        .orderBy("l_returnflag")
    )


CMS_DEPTH = 4  # hash rows
CMS_WIDTH = 2048  # counters per row
CMS_TOPK = 20  # tokens evaluated against the sketch


@query(
    "agg_cms_heavy_hitters",
    # xxhash64 has no DuckDB twin, so the gate is rows-only; the
    # over-estimate guarantee (est >= true, est <= true + N·e/width)
    # is pinned by tests/test_tolerance.py.
    oracle=None,
    tags=("agg", "approx", "sketch"),
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency rollup over the document token
    stream — the fixed-memory answer to "how often does each of these
    tokens appear in 100 TB": per-shard sketches are (depth × width)
    counter grids built with ONE map-side-combinable aggregation
    (memory O(d·w) per shard, never O(vocabulary)), merged by plain
    counter addition — the same algebraic-merge discipline as the HLL
    and t-digest rollups. Point estimates take the MIN across depth
    rows, so collisions only ever inflate counts (one-sided error
    e·N/width with probability 1−(1/2)^depth).

    The query builds shard sketches per `source`, merges them, then
    scores the exact top-{CMS_TOPK} tokens against the merged sketch
    so the gate row carries both truth and estimate."""
    d = load_table(spark, sf_dir, "documents")
    from supabase_etl_spark.operators.text import tokens as tok_fn

    toks = d.select(
        "source", F.explode(tok_fn(F.col("text"))).alias("tok")
    )

    # per-shard sketch: one agg keyed (source, depth, pos)
    probes = toks.select(
        "source",
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(F.xxhash64("tok", F.lit(j)), F.lit(CMS_WIDTH)).alias(
                            "pos"
                        ),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("source", F.col("h.j").alias("j"), F.col("h.pos").alias("pos"))
    shard_sketch = probes.groupBy("source", "j", "pos").agg(
        F.count(F.lit(1)).alias("c")
    )
    # merge: counter addition across shards
    merged = shard_sketch.groupBy("j", "pos").agg(F.sum("c").alias("c"))

    # evaluate: exact top-K tokens vs their sketch estimates
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    topk = exact.orderBy(F.desc("true_cnt"), "tok").limit(CMS_TOPK)
    lookups = topk.select(
        "tok",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(F.xxhash64("tok", F.lit(j)), F.lit(CMS_WIDTH)).alias(
                            "pos"
                        ),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("tok", "true_cnt", F.col("h.j").alias("j"), F.col("h.pos").alias("pos"))
    return (
        lookups.join(merged, ["j", "pos"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("c").alias("cms_est"))
        .orderBy(F.desc("true_cnt"), "tok")
    )


@query(
    "agg_hll_set_intersection",
    oracle=None,  # sketch estimates; accuracy asserted in tests
    tags=("agg", "approx", "sketch"),
)
def agg_hll_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from HLL sketches alone —
    inclusion-exclusion over mergeable sketches: |A∩B| ≈ est(A) +
    est(B) − est(A∪B). HLL supports only union natively; the
    subtraction trick is how a warehouse answers \"how many users both
    viewed and purchased\" from the per-segment sketches it already
    stores, without ever re-scanning raw ids. Each segment sketch is
    one hash-agg over its filtered stream; the union is a sketch merge
    of two binaries. Exact counts ride along for the tolerance test
    (they'd be dropped at 100 TB — that's the point)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    a = pin(a)  # sketch + exact passes (scan-leaf lint)
    b = pin(b)  # sketch + exact passes (scan-leaf lint)
    sk = (
        a.agg(F.hll_sketch_agg("user_id").alias("sk_a"))
        .crossJoin(b.agg(F.hll_sketch_agg("user_id").alias("sk_b")))
        .select(
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_union"),
        )
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
        )
    )
    exact = (
        a.distinct()
        .join(b.distinct(), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return sk.crossJoin(F.broadcast(exact))


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH words AS (
        SELECT event_type,
               user_id // 64 AS word,
               bit_or(1::UBIGINT << CAST(user_id % 64 AS INT)) AS bits
        FROM events
        GROUP BY event_type, word
    )
    SELECT event_type,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct_users,
           count(*) AS n_words
    FROM words
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "sketch", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count via integer bitmaps — the
    bitmap-index technique (roaring bitmaps being the production
    form): each group packs its member ids into 64-bit words
    (bit_or-combined map-side), distinct-count = Σ popcount(word),
    and two groups' bitmaps MERGE by bit_or — exact, unlike HLL, and
    still algebraic, unlike COUNT(DISTINCT), whose Expand doubles the
    input stream when mixed with other aggregates. The trade: memory
    scales with the ID DOMAIN (dense here; roaring compresses sparse
    ranges at 100 TB). Every step is a plain hash aggregate, fully
    replayed by the oracle — this sketch row is hash-checked, not
    tolerance-checked."""
    ev = load_table(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            F.floor(F.col("user_id") / 64).alias("word"),
            F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))").alias("mask"),
        )
        .groupBy("event_type", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return (
        words.groupBy("event_type")
        .agg(
            F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct_users"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_weighted_percentile",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               l_extendedprice AS v,
               SUM(CAST(l_quantity AS DECIMAL(28,6)))
                   OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                         ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(CAST(l_quantity AS DECIMAL(28,6)))
                   OVER (PARTITION BY l_returnflag) AS totw
        FROM lineitem
    )
    SELECT l_returnflag,
           MIN(v) FILTER (WHERE cumw >= totw * CAST(0.50 AS DECIMAL(3,2)))
               AS wp50,
           MIN(v) FILTER (WHERE cumw >= totw * CAST(0.90 AS DECIMAL(3,2)))
               AS wp90,
           CAST(MAX(totw) AS DOUBLE) AS total_weight
    FROM w
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted percentiles (lower weighted-median convention): the
    smallest value whose cumulative weight reaches p of the total.
    Quantity-weighted price percentiles per returnflag.

    The cumulative weight runs through an exact decimal window sum, so
    Spark's parallel partials and DuckDB's sequential scan agree
    bit-for-bit; the answer is invariant to ordering within value ties
    (only the tie group's *closing* cumulative weight decides whether
    the value qualifies). At 100 TB this is one shuffle per group key
    for the window sort — same cost class as any windowed rank; no
    driver collect, no UDF.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    cum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("l_returnflag")
    wdec = F.col("l_quantity").cast("decimal(28,6)")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(wdec).over(cum).alias("cumw"),
        F.sum(wdec).over(tot).alias("totw"),
    )
    half = F.lit("0.50").cast("decimal(3,2)")
    p90 = F.lit("0.90").cast("decimal(3,2)")
    return (
        w.groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("cumw") >= F.col("totw") * half, F.col("v"))).alias(
                "wp50"
            ),
            F.min(F.when(F.col("cumw") >= F.col("totw") * p90, F.col("v"))).alias(
                "wp90"
            ),
            F.max("totw").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_spearman_correlation",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag AS g,
               2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                   + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
                   AS rx,
               2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_discount)
                   + COUNT(*) OVER (PARTITION BY l_returnflag, l_discount) - 1
                   AS ry
        FROM lineitem
    ),
    sums AS (
        SELECT g,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy
        FROM ranked GROUP BY g
    )
    SELECT g AS l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
               AS spearman_rho
    FROM sums
    ORDER BY l_returnflag
    """,
    tags=("agg", "statistics"),
)
def agg_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation with tie-averaged ranks, per group.

    Average ranks are doubled into the integer lattice
    (``2*rank + ties - 1`` = twice the midrank), so every moment is an
    exact decimal integer sum — scaling both variables by 2 leaves rho
    unchanged. Pearson's formula then runs in double on identical
    operands in both engines, giving a bit-for-bit match. Two window
    passes (one per variable) and one hash aggregate; at 100 TB the
    cost is the two rank sorts — no ties-handling UDF, no collect.
    decimal(38,0) keeps the cubic-in-n moment exact to n ~ 3e12 rows
    per group.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), "l_quantity", "l_discount"
    )
    rk_q = Window.partitionBy("g").orderBy("l_quantity")
    tie_q = Window.partitionBy("g", "l_quantity")
    rk_d = Window.partitionBy("g").orderBy("l_discount")
    tie_d = Window.partitionBy("g", "l_discount")
    ranked = li.select(
        "g",
        (2 * F.rank().over(rk_q) + F.count(F.lit(1)).over(tie_q) - 1).alias("rx"),
        (2 * F.rank().over(rk_d) + F.count(F.lit(1)).over(tie_d) - 1).alias("ry"),
    )
    d38 = "decimal(38,0)"
    sums = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("rx").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("ry").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast(d38)).cast("double").alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast(d38)).cast("double").alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(d38)).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return sums.select(
        F.col("g").alias("l_returnflag"),
        n.cast("bigint").alias("n_rows"),
        (
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("spearman_rho"),
    ).orderBy("l_returnflag")


@query(
    "agg_welch_ttest",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hi'
                    ELSE 'lo' END AS grp,
               o_totalprice AS y
        FROM orders
    ),
    s AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM lab GROUP BY grp
    ),
    m AS (
        SELECT grp, n, sy / n AS mean,
               (syy - sy * sy / n) / (n - 1) AS var
        FROM s
    ),
    w AS (
        SELECT a.n AS n_hi, b.n AS n_lo,
               a.mean - b.mean AS mean_diff,
               a.var / a.n + b.var / b.n AS se2,
               a.var / a.n AS va, b.var / b.n AS vb,
               a.n AS na, b.n AS nb
        FROM (SELECT * FROM m WHERE grp = 'hi') a
        CROSS JOIN (SELECT * FROM m WHERE grp = 'lo') b
    )
    SELECT n_hi, n_lo, mean_diff,
           mean_diff / sqrt(se2) AS t_stat,
           se2 * se2 / (va * va / (na - 1) + vb * vb / (nb - 1)) AS dof,
           ABS(mean_diff / sqrt(se2)) > 1.96 AS significant_05
    FROM w
    ORDER BY n_hi
    """,
    tags=("agg", "stats"),
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (high- vs low-priority
    order values) with the Satterthwaite degrees of freedom — the
    default mean-comparison test when variances differ, and the missing
    sibling of the two-proportion z-test. Sufficient statistics only:
    count, decimal-exact Σy and Σy², one pass; the t and df formulas
    are identical rational arithmetic on six scalars in both engines."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi")
        .otherwise("lo")
        .alias("grp"),
        F.col("o_totalprice").alias("y"),
    )
    s = lab.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")).cast("double").alias("syy"),
    )
    m = s.select(
        "grp",
        "n",
        (F.col("sy") / F.col("n")).alias("mean"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    a = m.filter(F.col("grp") == "hi").select(
        F.col("n").alias("na"), F.col("mean").alias("ma"), F.col("var").alias("va_full")
    )
    b = m.filter(F.col("grp") == "lo").select(
        F.col("n").alias("nb"), F.col("mean").alias("mb"), F.col("var").alias("vb_full")
    )
    w = a.crossJoin(b).select(
        F.col("na").alias("n_hi"),
        F.col("nb").alias("n_lo"),
        (F.col("ma") - F.col("mb")).alias("mean_diff"),
        (F.col("va_full") / F.col("na") + F.col("vb_full") / F.col("nb")).alias("se2"),
        (F.col("va_full") / F.col("na")).alias("va"),
        (F.col("vb_full") / F.col("nb")).alias("vb"),
        "na",
        "nb",
    )
    t = F.col("mean_diff") / F.sqrt(F.col("se2"))
    return w.select(
        "n_hi",
        "n_lo",
        "mean_diff",
        t.alias("t_stat"),
        (
            F.col("se2") * F.col("se2")
            / (
                F.col("va") * F.col("va") / (F.col("na") - 1)
                + F.col("vb") * F.col("vb") / (F.col("nb") - 1)
            )
        ).alias("dof"),
        (F.abs(t) > 1.96).alias("significant_05"),
    ).orderBy("n_hi")


MWU_BIN = 1000.0  # Mann-Whitney score quantization (midranks handle ties)


@query(
    "agg_mann_whitney_u",
    oracle=f"""
    WITH lab AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS g,
               CAST(FLOOR(o_totalprice / {MWU_BIN}) AS BIGINT) AS s
        FROM orders
    ),
    per_s AS (
        SELECT s,
               CAST(SUM(g) AS BIGINT) AS n1s,
               CAST(COUNT(*) - SUM(g) AS BIGINT) AS n2s,
               CAST(COUNT(*) AS BIGINT) AS ns
        FROM lab GROUP BY s
    ),
    cum AS (
        SELECT s, n1s, n2s, ns,
               CAST(SUM(ns) OVER (ORDER BY s) - ns AS BIGINT) AS below,
               CAST(SUM(n1s) OVER () AS BIGINT) AS n1,
               CAST(SUM(n2s) OVER () AS BIGINT) AS n2,
               CAST(SUM(ns) OVER () AS BIGINT) AS n
        FROM per_s
    ),
    agg AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(n) AS n,
               CAST(SUM(CAST(n1s AS DOUBLE)
                        * (below + (ns + 1) / 2.0)) AS DOUBLE) AS r1,
               CAST(SUM(ns * ns * ns - ns) AS DOUBLE) AS tie3
        FROM cum
    )
    SELECT n1, n2,
           r1 - n1 * (n1 + 1) / 2.0 AS u1,
           (r1 - n1 * (n1 + 1) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)
               / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                      * ((n + 1) - tie3 / (CAST(n AS DOUBLE) * (n - 1)))) AS z,
           ABS((r1 - n1 * (n1 + 1) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)
               / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                      * ((n + 1) - tie3 / (CAST(n AS DOUBLE) * (n - 1))))) > 1.96
               AS significant_05
    FROM agg
    ORDER BY n1
    """,
    tags=("agg", "stats"),
    uwin=(
        'quantized score-grid table (bounded threshold buckets, agg_auc lever)',
        'quantized score-grid table (bounded threshold buckets, agg_auc lever)',
    ),
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with midrank tie handling and
    the tie-corrected normal approximation — the nonparametric
    complement of the Welch t-test, computed on a QUANTIZED score grid:
    per-bucket group counts give midranks below + (n_s+1)/2 without any
    per-row ranking, so the rank sums are exact half-integer arithmetic
    over a bounded threshold table (the same grouped-threshold lever as
    the AUC operator, to which U is equivalent up to scaling). One
    corpus groupBy; everything downstream is bucket-sized."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    lab = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).alias("g"),
        F.floor(F.col("o_totalprice") / MWU_BIN).cast("bigint").alias("s"),
    )
    per_s = lab.groupBy("s").agg(
        F.sum("g").alias("n1s"),
        (F.count(F.lit(1)) - F.sum("g")).alias("n2s"),
        F.count(F.lit(1)).alias("ns"),
    )
    wasc = Window.orderBy("s")
    wall = Window.partitionBy()
    cum = per_s.select(
        "s",
        "n1s",
        "n2s",
        "ns",
        (F.sum("ns").over(wasc) - F.col("ns")).alias("below"),
        F.sum("n1s").over(wall).alias("n1"),
        F.sum("n2s").over(wall).alias("n2"),
        F.sum("ns").over(wall).alias("n"),
    )
    agg = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("n").alias("n"),
        F.sum(
            F.col("n1s").cast("double") * (F.col("below") + (F.col("ns") + 1) / 2.0)
        ).cast("double").alias("r1"),
        F.sum(F.col("ns") * F.col("ns") * F.col("ns") - F.col("ns")).cast("double").alias("tie3"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    z = (u1 - F.col("n1").cast("double") * F.col("n2") / 2.0) / F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / 12.0
        * ((F.col("n") + 1) - F.col("tie3") / (F.col("n").cast("double") * (F.col("n") - 1)))
    )
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant_05"),
    ).orderBy("n1")


@query(
    "agg_herfindahl_index",
    oracle="""
    WITH rev AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS cust_rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    seg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(cust_rev AS DECIMAL(28,6))) AS DOUBLE) AS seg_rev
        FROM rev GROUP BY segment
    )
    SELECT s.segment, s.n_customers,
           round(CAST(SUM(CAST(round((r.cust_rev / s.seg_rev)
                                     * (r.cust_rev / s.seg_rev), 12)
                               AS DECIMAL(38,12))) AS DOUBLE), 9) AS hhi,
           round(CAST(SUM(CAST(round((r.cust_rev / s.seg_rev)
                                     * (r.cust_rev / s.seg_rev), 12)
                               AS DECIMAL(38,12))) AS DOUBLE)
                 * s.n_customers, 6) AS hhi_normalized_x_n
    FROM rev r JOIN seg s ON r.segment = s.segment
    GROUP BY s.segment, s.n_customers, s.seg_rev
    ORDER BY s.segment
    """,
    tags=("agg", "stats"),
)
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per market segment:
    Σ (customer revenue share)² — the antitrust/portfolio statistic
    pairing the Gini operator (HHI weighs the head, Gini the whole
    curve; 1/n = perfectly even, 1 = monopoly — surfaced via HHI·n).
    Two grouped passes (customer revenue, segment totals) and a
    decimal-summed square pass over customer-sized rows."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("cust_rev")
        )
    )
    rev = pin(rev)  # shared frame (scan-leaf lint)
    seg = rev.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cust_rev").cast("decimal(28,6)")).cast("double").alias("seg_rev"),
    )
    share2 = F.round(
        (F.col("cust_rev") / F.col("seg_rev")) * (F.col("cust_rev") / F.col("seg_rev")), 12
    ).cast("decimal(38,12)")
    return (
        rev.join(F.broadcast(seg), "segment")
        .groupBy("segment", "n_customers", "seg_rev")
        .agg(F.sum(share2).cast("double").alias("hhi_raw"))
        .select(
            "segment",
            "n_customers",
            F.round("hhi_raw", 9).alias("hhi"),
            F.round(F.col("hhi_raw") * F.col("n_customers"), 6).alias("hhi_normalized_x_n"),
        )
        .orderBy("segment")
    )


TRIM_FRAC = 0.1  # drop the lowest and highest 10% by rank


@query(
    "agg_trimmed_mean",
    oracle=f"""
    WITH ranked AS (
        SELECT o_orderpriority AS grp, o_totalprice AS y,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    kept AS (
        SELECT grp, y, n,
               CAST(FLOOR(n * {TRIM_FRAC}) AS BIGINT) AS cut
        FROM ranked
        WHERE rn > CAST(FLOOR(n * {TRIM_FRAC}) AS BIGINT)
          AND rn <= n - CAST(FLOOR(n * {TRIM_FRAC}) AS BIGINT)
    )
    SELECT grp,
           CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS trimmed_mean
    FROM kept
    GROUP BY grp
    ORDER BY grp
    """,
    tags=("agg", "stats"),
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean per group: drop the lowest and highest decile
    BY EXACT RANK (deterministic o_orderkey tiebreak, so the kept set —
    not just its size — is identical in both engines) and average the
    middle with decimal-exact sums — the outlier-robust mean that
    pairs the winsorize (clip) report: trimming removes, winsorizing
    caps. One rank window per group plus one grouped mean."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("y"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    cut = F.floor(F.col("n") * TRIM_FRAC).cast("bigint")
    kept = ranked.filter((F.col("rn") > cut) & (F.col("rn") <= F.col("n") - cut))
    return (
        kept.groupBy("grp")
        .agg(
            F.max("n").alias("n_total"),
            F.count(F.lit(1)).alias("n_kept"),
            (F.sum(F.col("y").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
                "trimmed_mean"
            ),
        )
        .orderBy("grp")
    )


@query(
    "agg_geo_harmonic_means",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS arithmetic_mean,
           round(exp(CAST(SUM(CAST(round(ln(o_totalprice), 12) AS DECIMAL(38,12)))
                          AS DOUBLE) / COUNT(*)), 6) AS geometric_mean,
           round(COUNT(*) / CAST(SUM(CAST(round(1.0 / o_totalprice, 18)
                                          AS DECIMAL(38,18))) AS DOUBLE), 6)
               AS harmonic_mean
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY grp
    """,
    tags=("agg", "stats"),
)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean mean family per group: arithmetic (decimal
    sums), geometric (exp of the decimal-summed ln — the mean for
    ratios/growth rates), and harmonic (the mean for rates; reciprocals
    are ~1e-5 so the decimal scale is 18, within the shortest-repr
    agreement window for 0-int-digit terms). AM ≥ GM ≥ HM falls out as
    a free sanity invariant. One grouped pass."""
    o = load_table(spark, sf_dir, "orders")
    am = F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))
    gm = F.round(
        F.exp(
            F.sum(F.round(F.log("o_totalprice"), 12).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ),
        6,
    )
    hm = F.round(
        F.count(F.lit(1))
        / F.sum(F.round(1.0 / F.col("o_totalprice"), 18).cast("decimal(38,18)")).cast(
            "double"
        ),
        6,
    )
    return (
        o.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            am.alias("arithmetic_mean"),
            gm.alias("geometric_mean"),
            hm.alias("harmonic_mean"),
        )
        .orderBy("grp")
    )


@query(
    "agg_anova_oneway",
    oracle="""
    WITH lab AS (
        SELECT CAST(date_part('dow', o_orderdate) AS BIGINT) AS grp,
               o_totalprice AS y
        FROM orders
    ),
    per_g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM lab GROUP BY grp
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS s_tot,
               CAST(SUM(CAST(ss AS DECIMAL(38,6))) AS DOUBLE) AS ss_tot,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(s * s / n, 0) AS DECIMAL(38,0))) AS DOUBLE)
                   AS sum_sq_means
        FROM per_g
    )
    SELECT k AS n_groups, n_tot,
           round((sum_sq_means - s_tot * s_tot / n_tot) / (k - 1)
                 / ((ss_tot - sum_sq_means) / (n_tot - k)), 9) AS f_stat,
           round((sum_sq_means - s_tot * s_tot / n_tot)
                 / (ss_tot - s_tot * s_tot / n_tot), 9) AS eta_squared
    FROM tot
    ORDER BY n_groups
    """,
    tags=("agg", "stats"),
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does order value differ by weekday? F = between-
    group mean square / within-group mean square, plus η² effect size —
    the k-group generalization of the two-sample t family already here.
    Entirely from per-group sufficient statistics (n, Σy, Σy², each
    decimal-exact; the per-group mean squares are INTEGER-quantized
    before the cross-group sum — at ~1e13 magnitude a finer decimal
    scale would leave the shortest-repr agreement window) — two grouped passes, constant-size algebra."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.dayofweek("o_orderdate").cast("bigint").alias("grp"),
        F.col("o_totalprice").alias("y"),
    )
    per_g = lab.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")).cast("double").alias("ss"),
    )
    tot = per_g.agg(
        F.sum("n").alias("n_tot"),
        F.sum(F.col("s").cast("decimal(28,6)")).cast("double").alias("s_tot"),
        F.sum(F.col("ss").cast("decimal(38,6)")).cast("double").alias("ss_tot"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.round(F.col("s") * F.col("s") / F.col("n"), 0).cast("decimal(38,0)")
        ).cast("double").alias("sum_sq_means"),
    )
    ssb = F.col("sum_sq_means") - F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    ssw = F.col("ss_tot") - F.col("sum_sq_means")
    sst = F.col("ss_tot") - F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    return tot.select(
        F.col("k").alias("n_groups"),
        "n_tot",
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n_tot") - F.col("k"))), 9).alias(
            "f_stat"
        ),
        F.round(ssb / sst, 9).alias("eta_squared"),
    ).orderBy("n_groups")


@query(
    "agg_shannon_diversity",
    oracle="""
    WITH cell AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ),
    tot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
        FROM cell GROUP BY lang
    ),
    terms AS (
        SELECT c.lang, t.n, t.k,
               ROUND(-(CAST(c.c AS DOUBLE) / t.n) * LN(CAST(c.c AS DOUBLE) / t.n), 12) AS h_term,
               ROUND((CAST(c.c AS DOUBLE) / t.n) * (CAST(c.c AS DOUBLE) / t.n), 12) AS p2_term
        FROM cell c JOIN tot t ON c.lang = t.lang
    )
    SELECT lang, CAST(MIN(n) AS BIGINT) AS n_docs, CAST(MIN(k) AS BIGINT) AS richness,
           ROUND(CAST(SUM(CAST(h_term AS DECIMAL(38,12))) AS DOUBLE), 9) AS shannon_h,
           ROUND(CASE WHEN MIN(k) > 1
                      THEN CAST(SUM(CAST(h_term AS DECIMAL(38,12))) AS DOUBLE) / LN(CAST(MIN(k) AS DOUBLE))
                      ELSE 0.0 END, 9) AS evenness,
           ROUND(1.0 - CAST(SUM(CAST(p2_term AS DECIMAL(38,12))) AS DOUBLE), 9) AS simpson
    FROM terms
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("agg", "stats", "llm"),
)
def agg_shannon_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy, Pielou evenness (H / ln k), and Gini-Simpson
    index of the source distribution within each language — the
    standard diversity triple for auditing corpus mixture balance
    before training. Two grouped count passes produce a cell table
    bounded by |lang|x|source|; the entropy terms are per-cell rational
    doubles through the round-12 decimal-sum pattern (ln is
    libm-identical when summed this way), so the whole statistic is
    bit-exact across engines. Scale: corpus is touched once by the
    first groupBy; everything downstream is category-sized."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cell.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n"), F.count(F.lit(1)).cast("bigint").alias("k")
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = cell.join(tot, "lang").select(
        "lang",
        "n",
        "k",
        F.round(-p * F.log(p), 12).alias("h_term"),
        F.round(p * p, 12).alias("p2_term"),
    )
    h = F.sum(F.col("h_term").cast("decimal(38,12)")).cast("double")
    p2 = F.sum(F.col("p2_term").cast("decimal(38,12)")).cast("double")
    return (
        terms.groupBy("lang")
        .agg(
            F.min("n").cast("bigint").alias("n_docs"),
            F.min("k").cast("bigint").alias("richness"),
            F.round(h, 9).alias("shannon_h"),
            F.round(
                F.when(
                    F.min("k") > 1, h / F.log(F.min("k").cast("double"))
                ).otherwise(0.0),
                9,
            ).alias("evenness"),
            F.round(1.0 - p2, 9).alias("simpson"),
        )
        .orderBy("lang")
    )


@query(
    "agg_variance_mergeable",
    oracle="""
    WITH partials AS (
        SELECT l_returnflag AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(28,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(ROUND(l_quantity * l_quantity, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS s2
        FROM lineitem GROUP BY l_returnflag
    ),
    merged AS (
        SELECT 'ALL' AS grp,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(s, 6) AS DECIMAL(28,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(ROUND(s2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS s2
        FROM partials
    ),
    unioned AS (
        SELECT * FROM partials UNION ALL SELECT * FROM merged
    )
    SELECT grp, n,
           ROUND(s / n, 9) AS mean,
           ROUND(s2 / n - (s / n) * (s / n), 9) AS var_pop
    FROM unioned
    ORDER BY grp
    """,
    tags=("agg", "stats", "mergeable"),
)
def agg_variance_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable one-pass variance algebra (Chan et al.): per-group
    sufficient statistics (n, Σx, Σx²) combine into the global
    variance WITHOUT rescanning — the merged 'ALL' row is computed
    from the group partials alone, exactly the map-side-combine /
    sketch-merge contract every distributed aggregation relies on.
    Decimal-exact partials make merged == direct bit-for-bit, which is
    the property this query pins: a rollup tier (hour→day→month) can
    merge variance partials at any granularity with zero drift."""
    li = load_table(spark, sf_dir, "lineitem")
    partials = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("l_quantity", 6).cast("decimal(28,6)")).cast("double").alias("s"),
        F.sum(F.round(F.col("l_quantity") * F.col("l_quantity"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("s2"),
    )
    merged = partials.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.round("s", 6).cast("decimal(28,6)")).cast("double").alias("s"),
        F.sum(F.round("s2", 6).cast("decimal(28,6)")).cast("double").alias("s2"),
    ).select(F.lit("ALL").alias("grp"), "n", "s", "s2")
    unioned = partials.unionByName(merged)
    return unioned.select(
        "grp",
        "n",
        F.round(F.col("s") / F.col("n"), 9).alias("mean"),
        F.round(
            F.col("s2") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")),
            9,
        ).alias("var_pop"),
    ).orderBy("grp")


@query(
    "agg_theil_inequality",
    oracle="""
    WITH pos AS (SELECT c_nationkey, c_acctbal AS x FROM customer
                 WHERE c_acctbal > 0),
    tot AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu,
               COUNT(*) AS n
        FROM pos
    ),
    grp AS (
        SELECT c_nationkey,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu_g,
               COUNT(*) AS n_g,
               CAST(SUM(CAST(round((x / (SELECT mu FROM tot))
                                   * ln(x / (SELECT mu FROM tot)), 9)
                             AS DECIMAL(38,12))) AS DOUBLE) AS t_total_part
        FROM pos GROUP BY c_nationkey
    ),
    grp_inner AS (
        SELECT p.c_nationkey,
               CAST(SUM(CAST(round((p.x / g.mu_g) * ln(p.x / g.mu_g), 9)
                             AS DECIMAL(38,12))) AS DOUBLE) / g.n_g AS t_g
        FROM pos p JOIN grp g USING (c_nationkey)
        GROUP BY p.c_nationkey, g.n_g
    ),
    parts AS (
        SELECT g.c_nationkey, g.n_g, g.mu_g, g.t_total_part, i.t_g,
               (CAST(g.n_g AS DOUBLE) / t.n) * (g.mu_g / t.mu)
                   * ln(g.mu_g / t.mu) AS b_term,
               (CAST(g.n_g AS DOUBLE) / t.n) * (g.mu_g / t.mu) * i.t_g
                   AS w_term
        FROM grp g JOIN grp_inner i USING (c_nationkey) CROSS JOIN tot t
    )
    SELECT CAST(t.n AS BIGINT) AS n, t.mu AS mean_balance,
           CAST(SUM(CAST(round(p.t_total_part, 12) AS DECIMAL(38,12)))
                AS DOUBLE) / t.n AS theil_total,
           CAST(SUM(CAST(round(p.b_term, 12) AS DECIMAL(38,12)))
                AS DOUBLE) AS theil_between,
           CAST(SUM(CAST(round(p.w_term, 12) AS DECIMAL(38,12)))
                AS DOUBLE) AS theil_within
    FROM parts p CROSS JOIN tot t
    GROUP BY t.n, t.mu
    """,
    tags=("agg", "inequality"),
)
def agg_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index with exact between-/within-group
    decomposition over customer balances by nation — the additive
    decomposition is why Theil (not Gini) is the index economists use
    to attribute inequality to segments. Three aggregation passes:
    global mean, per-nation means + per-row entropy terms, and the
    25-row decomposition rollup. At 100 TB: two scans with map-side
    decimal partials and one nation-keyed shuffle (25 groups); the
    per-row ln() term never leaves its partition unaggregated."""
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).select(
        "c_nationkey", F.col("c_acctbal").alias("x")
    )
    pos = pin(pos)  # totals + rows + inner (scan-leaf lint)
    tot = pos.agg(
        (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1)))
        .alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    rows = pos.crossJoin(F.broadcast(tot))
    # per-nation means and the global-relative per-row terms
    grp = rows.groupBy("c_nationkey", "mu", "n").agg(
        (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1)))
        .alias("mu_g"),
        F.count(F.lit(1)).alias("n_g"),
        F.sum(
            F.round((F.col("x") / F.col("mu")) * F.log(F.col("x") / F.col("mu")), 9)
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("t_total_part"),
    )
    # within-group entropy terms need mu_g on each row: one more pass
    inner = (
        rows.join(F.broadcast(grp.select("c_nationkey", "mu_g", "n_g")), "c_nationkey")
        .groupBy("c_nationkey", "n_g")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("x") / F.col("mu_g"))
                        * F.log(F.col("x") / F.col("mu_g")),
                        9,
                    ).cast("decimal(38,12)")
                ).cast("double")
                / F.col("n_g")
            ).alias("t_g")
        )
        .select("c_nationkey", "t_g")
    )
    parts = grp.join(F.broadcast(inner), "c_nationkey").select(
        "n",
        "mu",
        "t_total_part",
        (
            (F.col("n_g").cast("double") / F.col("n"))
            * (F.col("mu_g") / F.col("mu"))
            * F.log(F.col("mu_g") / F.col("mu"))
        ).alias("b_term"),
        (
            (F.col("n_g").cast("double") / F.col("n"))
            * (F.col("mu_g") / F.col("mu"))
            * F.col("t_g")
        ).alias("w_term"),
    )
    return parts.groupBy("n", "mu").agg(
        (
            F.sum(F.round(F.col("t_total_part"), 12).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.col("n")
        ).alias("theil_total"),
        F.sum(F.round(F.col("b_term"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("theil_between"),
        F.sum(F.round(F.col("w_term"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("theil_within"),
    ).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("mu").alias("mean_balance"),
        "theil_total",
        "theil_between",
        "theil_within",
    )


@query(
    "agg_kendall_tau_b",
    oracle="""
    WITH pts AS (
        SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS x,
               CAST(FLOOR(l_extendedprice / 2000.0) AS BIGINT) AS y
        FROM lineitem
    ),
    cells AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY x, y
    ),
    pairs AS (
        SELECT a.c AS ca, b.c AS cb,
               CASE WHEN (a.x < b.x AND a.y < b.y)
                      OR (a.x > b.x AND a.y > b.y) THEN 'conc'
                    WHEN (a.x < b.x AND a.y > b.y)
                      OR (a.x > b.x AND a.y < b.y) THEN 'disc'
                    WHEN a.x = b.x AND a.y <> b.y THEN 'tie_x'
                    WHEN a.x <> b.x AND a.y = b.y THEN 'tie_y'
                    ELSE 'tie_xy' END AS kind
        FROM cells a JOIN cells b
          ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
    ),
    within AS (
        SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS t_xy
        FROM cells
    ),
    counts AS (
        SELECT
            CAST(COALESCE(SUM(CASE WHEN kind = 'conc' THEN ca * cb END), 0)
                 AS BIGINT) AS nc,
            CAST(COALESCE(SUM(CASE WHEN kind = 'disc' THEN ca * cb END), 0)
                 AS BIGINT) AS nd,
            CAST(COALESCE(SUM(CASE WHEN kind = 'tie_x' THEN ca * cb END), 0)
                 AS BIGINT) AS tx_cross,
            CAST(COALESCE(SUM(CASE WHEN kind = 'tie_y' THEN ca * cb END), 0)
                 AS BIGINT) AS ty_cross,
            CAST(COALESCE(SUM(CASE WHEN kind = 'tie_xy' THEN ca * cb END), 0)
                 AS BIGINT) AS txy_cross
        FROM pairs
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
    SELECT t.n, c.nc AS concordant, c.nd AS discordant,
           c.tx_cross + c.txy_cross + w.t_xy AS ties_x,
           c.ty_cross + c.txy_cross + w.t_xy AS ties_y,
           round((c.nc - c.nd) / sqrt(
               (CAST(t.n AS DOUBLE) * (t.n - 1) / 2
                - (c.tx_cross + c.txy_cross + w.t_xy))
               * (CAST(t.n AS DOUBLE) * (t.n - 1) / 2
                  - (c.ty_cross + c.txy_cross + w.t_xy))), 9) AS tau_b
    FROM counts c CROSS JOIN tot t CROSS JOIN within w
    """,
    tags=("agg", "statistics"),
)
def agg_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation with full tie correction,
    EXACT at corpus scale: rows collapse to a quantized contingency
    grid first (the threshold-table lever), so the O(n²) pair
    enumeration becomes cell-pair counting on a grid²-bounded table —
    concordant/discordant/tied masses are integer products of cell
    counts, and within-cell pairs feed both tie terms. The naive
    per-row algorithm is unrunnable at 100 TB; this form is one
    grouped count + metadata arithmetic, exactly how the
    Mann-Whitney/Spearman operators scale. tau-b divides by the
    tie-adjusted pair counts (Agresti), a single IEEE expression on
    exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.floor("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") / 2000.0).cast("bigint").alias("y"),
    )
    cells = pin(
        pts.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
        # grid-sized table feeding the pair join twice, the tie terms,
        # and the total: truncate so the corpus scans once
        eager=True,
    )
    a, b = cells.alias("a"), cells.alias("b")
    kind = (
        F.when(
            ((F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
            | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") > F.col("b.y"))),
            "conc",
        )
        .when(
            ((F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y")))
            | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") < F.col("b.y"))),
            "disc",
        )
        .when((F.col("a.x") == F.col("b.x")) & (F.col("a.y") != F.col("b.y")), "tie_x")
        .when((F.col("a.x") != F.col("b.x")) & (F.col("a.y") == F.col("b.y")), "tie_y")
        .otherwise("tie_xy")
    )
    pairs = a.join(
        b,
        (F.col("a.x") < F.col("b.x"))
        | ((F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))),
    ).select(
        (F.col("a.c") * F.col("b.c")).alias("m"), kind.alias("kind")
    )
    counts = pairs.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("kind") == k, F.col("m"))), F.lit(0))
            .cast("bigint")
            .alias(al)
            for k, al in [
                ("conc", "nc"),
                ("disc", "nd"),
                ("tie_x", "tx_cross"),
                ("tie_y", "ty_cross"),
                ("tie_xy", "txy_cross"),
            ]
        ]
    )
    within = cells.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint").alias("t_xy")
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    half = lambda n: n.cast("double") * (n - 1) / 2  # noqa: E731
    return (
        counts.crossJoin(tot)
        .crossJoin(within)
        .select(
            "n",
            F.col("nc").alias("concordant"),
            F.col("nd").alias("discordant"),
            (F.col("tx_cross") + F.col("txy_cross") + F.col("t_xy")).alias("ties_x"),
            (F.col("ty_cross") + F.col("txy_cross") + F.col("t_xy")).alias("ties_y"),
            F.round(
                (F.col("nc") - F.col("nd"))
                / F.sqrt(
                    (half(F.col("n")) - (F.col("tx_cross") + F.col("txy_cross") + F.col("t_xy")))
                    * (half(F.col("n")) - (F.col("ty_cross") + F.col("txy_cross") + F.col("t_xy")))
                ),
                9,
            ).alias("tau_b"),
        )
    )


@query(
    "agg_levene_brown_forsythe",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS g,
               CAST(CAST(l_extendedprice * 0.0001 AS DECIMAL(18,6)) * 1000000
                    AS BIGINT) AS xu
        FROM lineitem
    ),
    med AS (
        SELECT g,
               SUM(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                        THEN xu ELSE 0 END)
               + SUM(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
                          THEN xu ELSE 0 END) AS m2
        FROM (
            SELECT g, xu,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY xu) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM pts
        ) GROUP BY g
    ),
    z AS (
        SELECT p.g, ABS(2 * p.xu - m.m2) AS z2
        FROM pts p JOIN med m ON p.g = m.g
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(z2 AS DECIMAL(38,0))) AS s1d,
               SUM(CAST(z2 * z2 AS DECIMAL(38,0))) AS s2d
        FROM z GROUP BY g
    ),
    moments AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_all,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s1d) AS DOUBLE) AS s1_all,
               SUM(CAST(s1d AS DOUBLE) * CAST(s1d AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS a,
               CAST(SUM(s2d) AS DOUBLE) AS c
        FROM grp
    )
    SELECT n_all, k,
           round((a - s1_all * s1_all / n_all) / 4000000000000.0, 6)
               AS ss_between,
           round((c - a) / 4000000000000.0, 6) AS ss_within,
           round(((a - s1_all * s1_all / n_all) / (k - 1))
                 / ((c - a) / (n_all - k)), 6) AS bf_statistic
    FROM moments
    """,
    tags=("agg", "statistics"),
)
def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) test of variance
    homogeneity across the return-flag groups: one-way ANOVA on the
    absolute deviations from each group's EXACT median — the
    robust pre-check before any pooled-variance t/ANOVA inference.
    Scale-stable integer-units formulation: x is an exact 6-dp
    rational, so xu = x·1e6 is an exact BIGINT; the group median is
    the midpoint of the two middle order statistics, so m2 = 2·median
    ·1e6 is their exact integer SUM (odd n picks the same row twice);
    z2 = |2·xu − m2| = 2e6·|x − median| is exact with NO rounding
    snap — the .0005-tie class that made the old 3-dp formulation
    scale-dependent cannot occur. Moments sum z2 and z2² through
    decimal(38,0) (z2² ≈ 4e14/row overflows bigint's 9.2e18 within
    ~20k rows; at 100 TB the decimal accumulator is mandatory), then
    ONE cast to double per group total and a single /4e12 unit
    conversion at the end — identical IEEE arithmetic on both
    engines at any row count. Two window passes + two grouped
    aggregations — the rank partitions by group, so 100 TB sorts
    within groups, never globally."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("g"),
        ((F.col("l_extendedprice") * 0.0001).cast("decimal(18,6)") * 1000000)
        .cast("bigint")
        .alias("xu"),
    )
    wr = Window.partitionBy("g").orderBy("xu")
    wn = Window.partitionBy("g")
    ranked = pts.select(
        "g",
        "xu",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
    hi = F.floor((F.col("n") + 2) / 2.0).cast("bigint")
    med = ranked.groupBy("g").agg(
        (
            F.sum(F.when(F.col("rn") == lo, F.col("xu")).otherwise(F.lit(0)))
            + F.sum(F.when(F.col("rn") == hi, F.col("xu")).otherwise(F.lit(0)))
        ).alias("m2")
    )
    z = pts.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("xu") - F.col("m2")).alias("z2")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("z2").cast("decimal(38,0)")).alias("s1d"),
        F.sum((F.col("z2") * F.col("z2")).cast("decimal(38,0)")).alias("s2d"),
    )
    moments = grp.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s1d").cast("double").alias("s1_all"),
        F.sum(
            F.col("s1d").cast("double")
            * F.col("s1d").cast("double")
            / F.col("n").cast("double")
        ).alias("a"),
        F.sum("s2d").cast("double").alias("c"),
    )
    ssb_u = F.col("a") - F.col("s1_all") * F.col("s1_all") / F.col("n_all")
    ssw_u = F.col("c") - F.col("a")
    units = F.lit(4000000000000.0)
    return moments.select(
        "n_all",
        "k",
        F.round(ssb_u / units, 6).alias("ss_between"),
        F.round(ssw_u / units, 6).alias("ss_within"),
        F.round(
            (ssb_u / (F.col("k") - 1)) / (ssw_u / (F.col("n_all") - F.col("k"))), 6
        ).alias("bf_statistic"),
    )


@query(
    "agg_hodges_lehmann",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS g, CAST(FLOOR(l_quantity) AS BIGINT) AS v
        FROM lineitem
    ),
    cells AS (
        SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY g, v
    ),
    pair_avgs AS (
        -- Walsh averages on the value grid: unordered pairs with
        -- replacement, weight = c_i*c_j (i<j) or c*(c+1)/2 (i=j)
        SELECT a.g, (a.v + b.v) / 2.0 AS w,
               CASE WHEN a.v = b.v THEN a.c * (a.c + 1) / 2
                    ELSE a.c * b.c END AS wt
        FROM cells a JOIN cells b ON a.g = b.g AND a.v <= b.v
    ),
    ordered AS (
        SELECT g, w, wt,
               SUM(wt) OVER (PARTITION BY g ORDER BY w
                             ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(wt) OVER (PARTITION BY g) AS total
        FROM pair_avgs
    ),
    medians AS (
        SELECT g,
               MIN(CASE WHEN cum * 2 >= total THEN w END) AS hl_lo,
               MIN(CASE WHEN cum * 2 >= total + 2 THEN w END) AS hl_hi
        FROM ordered GROUP BY g
    )
    SELECT g, round((hl_lo + COALESCE(hl_hi, hl_lo)) / 2.0, 9)
               AS hodges_lehmann
    FROM medians
    ORDER BY g
    """,
    tags=("agg", "statistics"),
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator per group — the median of all
    pairwise (Walsh) averages, the robust estimator behind the
    Wilcoxon signed-rank interval. Naively O(n²) pairs; here rows
    collapse to the integer value grid first, so Walsh averages
    enumerate GRID cell pairs with multiplicities (c_i·c_j, diagonal
    c(c+1)/2) and the weighted median walks a cumulative window over
    ~grid² rows — exact at any corpus size, the same counting trick
    as the Kendall and Mann-Whitney operators. Even-total medians
    average the two middle Walsh values."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("g"),
        F.floor("l_quantity").cast("bigint").alias("v"),
    )
    cells = pts.groupBy("g", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a, b = cells.alias("a"), cells.alias("b")
    pair_avgs = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.v") <= F.col("b.v"))
    ).select(
        F.col("a.g").alias("g"),
        ((F.col("a.v") + F.col("b.v")) / 2.0).alias("w"),
        F.when(
            F.col("a.v") == F.col("b.v"), F.col("a.c") * (F.col("a.c") + 1) / 2
        )
        .otherwise(F.col("a.c") * F.col("b.c"))
        .alias("wt"),
    )
    wc = Window.partitionBy("g").orderBy("w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt_ = Window.partitionBy("g")
    ordered = pair_avgs.select(
        "g",
        "w",
        F.sum("wt").over(wc).alias("cum"),
        F.sum("wt").over(wt_).alias("total"),
    )
    medians = ordered.groupBy("g").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("w"))).alias("hl_lo"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total") + 2, F.col("w"))).alias(
            "hl_hi"
        ),
    )
    return medians.select(
        "g",
        F.round(
            (F.col("hl_lo") + F.coalesce("hl_hi", "hl_lo")) / 2.0, 9
        ).alias("hodges_lehmann"),
    ).orderBy("g")


@query(
    "agg_skewness_kurtosis",
    oracle="""
    WITH m AS (
        SELECT l_returnflag AS g,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
        FROM lineitem
        GROUP BY l_returnflag
    ),
    c AS (
        SELECT g, n,
               s1 / n AS mu,
               (s2 - s1 * s1 / n) / n AS m2,
               (s3 - 3 * (s1 / n) * s2 + 2 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n AS m3,
               (s4 - 4 * (s1 / n) * s3 + 6 * (s1 / n) * (s1 / n) * s2
                   - 3 * n * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / n AS m4
        FROM m
    )
    SELECT g,
           CAST(n AS BIGINT) AS n,
           round(mu, 9) AS mean_qty,
           round(m3 / (m2 * sqrt(m2)), 9) AS skewness_g1,
           round(m4 / (m2 * m2) - 3, 9) AS kurtosis_excess
    FROM c
    ORDER BY g
    """,
    tags=("agg", "statistics"),
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population skewness (g1 = m3/m2^1.5) and excess kurtosis
    (g2 = m4/m2² − 3) per group from the first four EXACT power sums —
    the shape statistics the native streaming `skewness`/`kurtosis`
    aggregates estimate with float accumulation. l_quantity is
    integer-valued (1..50), so Σx..Σx⁴ are exact BIGINT sums (max
    ~6.25e6 per row × 6e6 rows at sf1 ≈ 4e13 < 2^53 — the double cast
    is lossless); the central-moment algebra then runs on identical
    doubles in both engines, rounded to 9 dp for libm-division safety.

    100 TB: one map-side-combined hash aggregate (3 groups), zero extra
    shuffles — the cheapest possible distributed shape; at larger value
    domains swap BIGINT for decimal power sums with the scale budget
    tracked per power."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    m = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = (s2 - s1 * s1 / n) / n
    m3 = (s3 - F.lit(3) * mu * s2 + F.lit(2) * n * mu * mu * mu) / n
    m4 = (
        s4 - F.lit(4) * mu * s3 + F.lit(6) * mu * mu * s2 - F.lit(3) * n * mu * mu * mu * mu
    ) / n
    return m.select(
        "g",
        n.cast("bigint").alias("n"),
        F.round(mu, 9).alias("mean_qty"),
        F.round(m3 / (m2 * F.sqrt(m2)), 9).alias("skewness_g1"),
        F.round(m4 / (m2 * m2) - 3, 9).alias("kurtosis_excess"),
    ).orderBy("g")


@query(
    "agg_effect_sizes",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN o_orderstatus = 'O' THEN 'treat' ELSE 'ctrl' END AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(o_totalprice * o_totalprice, 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM orders WHERE o_orderstatus IN ('O', 'F')
        GROUP BY 1
    ),
    m AS (
        SELECT grp, n, s1 / n AS mu, (s2 - s1 * s1 / n) / (n - 1) AS var
        FROM g
    ),
    w AS (
        SELECT t.n AS n_t, c.n AS n_c, t.mu AS mu_t, c.mu AS mu_c,
               t.var AS var_t, c.var AS var_c,
               sqrt(((t.n - 1) * t.var + (c.n - 1) * c.var)
                    / (t.n + c.n - 2)) AS sp
        FROM (SELECT * FROM m WHERE grp = 'treat') t
        CROSS JOIN (SELECT * FROM m WHERE grp = 'ctrl') c
    )
    SELECT n_t, n_c,
           round(mu_t - mu_c, 9) AS mean_diff,
           round((mu_t - mu_c) / sp, 9) AS cohens_d,
           round((mu_t - mu_c) / sp
                 * (1.0 - 3.0 / (4.0 * (n_t + n_c) - 9.0)), 9) AS hedges_g,
           round((mu_t - mu_c) / sqrt(var_c), 9) AS glass_delta
    FROM w
    """,
    tags=("agg", "statistics"),
)
def agg_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the two-sample comparison the
    Welch/Mann-Whitney operators only TEST: Cohen's d (pooled-SD
    units), Hedges' g (the small-sample bias correction
    1 − 3/(4N−9)), and Glass's Δ (control-SD units, for unequal
    variances). Groups: open vs finished orders on total price.
    Effect sizes are what a significant p-value gets reported WITH —
    the magnitude, not just the existence, of the difference.

    Exactness: both groups reduce to exact decimal moments (price² is
    an exact 4-dp decimal); every derived quantity is the same double
    expression in both engines, rounded at 9. One map-side-combined
    aggregate over the corpus, then 2-row algebra."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
    )
    tp = F.col("o_totalprice")
    g = o.groupBy(
        F.when(F.col("o_orderstatus") == "O", "treat").otherwise("ctrl").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(tp.cast("decimal(28,2)")).cast("double").alias("s1"),
        F.sum(F.round(tp * tp, 4).cast("decimal(38,4)")).cast("double").alias("s2"),
    )
    m = g.select(
        "grp",
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias("var"),
    )
    t = m.filter(F.col("grp") == "treat").select(
        F.col("n").alias("n_t"), F.col("mu").alias("mu_t"), F.col("var").alias("var_t")
    )
    c = m.filter(F.col("grp") == "ctrl").select(
        F.col("n").alias("n_c"), F.col("mu").alias("mu_c"), F.col("var").alias("var_c")
    )
    w = t.crossJoin(c).withColumn(
        "sp",
        F.sqrt(
            ((F.col("n_t") - 1) * F.col("var_t") + (F.col("n_c") - 1) * F.col("var_c"))
            / (F.col("n_t") + F.col("n_c") - 2)
        ),
    )
    diff = F.col("mu_t") - F.col("mu_c")
    return w.select(
        "n_t",
        "n_c",
        F.round(diff, 9).alias("mean_diff"),
        F.round(diff / F.col("sp"), 9).alias("cohens_d"),
        F.round(
            diff / F.col("sp") * (F.lit(1.0) - 3.0 / (4.0 * (F.col("n_t") + F.col("n_c")) - 9.0)),
            9,
        ).alias("hedges_g"),
        F.round(diff / F.sqrt(F.col("var_c")), 9).alias("glass_delta"),
    )


@query(
    "agg_bartlett_test",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    AS DOUBLE) AS s2
        FROM lineitem GROUP BY 1
    ),
    v AS (
        SELECT grp, n, (s2 - s1 * s1 / n) / (n - 1) AS var FROM g
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(CAST(round((n - 1) * var, 6) AS DECIMAL(38,6))) AS DOUBLE)
                   AS pooled_num,
               CAST(SUM(CAST(round((n - 1) * ln(var), 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS sum_nlnv,
               CAST(SUM(CAST(round(1.0 / (n - 1), 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS sum_inv
        FROM v
    )
    SELECT k, n_tot,
           round(pooled_num / (n_tot - k), 9) AS pooled_var,
           round(((n_tot - k) * ln(pooled_num / (n_tot - k)) - sum_nlnv)
                 / (1.0 + (sum_inv - 1.0 / (n_tot - k)) / (3.0 * (k - 1))), 9)
               AS bartlett_chi2
    FROM agg
    """,
    tags=("agg", "statistics"),
)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the returnflag
    groups — the parametric (normality-assuming) counterpart of the
    Brown-Forsythe operator: T = [(N−k)·ln(s_p²) − Σ(n_i−1)ln(s_i²)] /
    [1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1))] ~ χ²(k−1).

    Exactness: group variances come from exact integer power sums;
    ln terms round at 1e-12 into decimal sums (the NLL discipline);
    the correction-factor algebra is identical double text both
    sides. One map-side-combined aggregate, then a k-row reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
    )
    v = g.select(
        "grp",
        "n",
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias("var"),
    )
    agg = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(F.round((F.col("n") - 1) * F.col("var"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("pooled_num"),
        F.sum(F.round((F.col("n") - 1) * F.log("var"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sum_nlnv"),
        F.sum(F.round(F.lit(1.0) / (F.col("n") - 1), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sum_inv"),
    )
    nk = F.col("n_tot") - F.col("k")
    return agg.select(
        "k",
        "n_tot",
        F.round(F.col("pooled_num") / nk, 9).alias("pooled_var"),
        F.round(
            (nk * F.log(F.col("pooled_num") / nk) - F.col("sum_nlnv"))
            / (
                F.lit(1.0)
                + (F.col("sum_inv") - F.lit(1.0) / nk) / (3.0 * (F.col("k") - 1))
            ),
            9,
        ).alias("bartlett_chi2"),
    )


@query(
    "agg_friedman_test",
    oracle="""
    WITH cells AS (
        SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS block,
               event_type AS treat,
               round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                     / count(*), 9) AS metric
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT block, treat,
               CAST(ROW_NUMBER() OVER (PARTITION BY block
                                       ORDER BY metric, treat) AS BIGINT) AS r
        FROM cells
    ),
    sums AS (
        SELECT treat, CAST(SUM(r) AS BIGINT) AS rank_sum,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY treat
    ),
    k_ AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sums)
    SELECT treat, rank_sum, n_blocks,
           round(12.0 / (n_blocks * (SELECT k FROM k_) * ((SELECT k FROM k_) + 1))
                 * (SELECT SUM(CAST(rank_sum AS DOUBLE) * rank_sum) FROM sums)
                 - 3.0 * n_blocks * ((SELECT k FROM k_) + 1), 9) AS friedman_chi2
    FROM sums
    ORDER BY treat
    """,
    tags=("agg", "statistics"),
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for k related treatments over b blocks — the
    nonparametric repeated-measures ANOVA: does any event type's mean
    value systematically lead the others across weekdays? Blocks =
    ISO weekday, treatments = event type, cell = mean value; within
    each block the treatments are ranked and χ²_F = 12/(bk(k+1))·ΣR_j²
    − 3b(k+1) ~ χ²(k−1).

    Determinism: the cell metric is an exact decimal mean rounded at 9
    BEFORE ranking, with the treatment name as tie-break (quantize-
    then-rank), so both engines produce the same integer rank matrix;
    everything after is integer arithmetic plus one division. Scale:
    one corpus groupBy to 35 cells; the test runs on the cell grid."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek(F.to_date("ts")).alias("dow_raw"),
        F.col("event_type").alias("treat"),
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("metric")
    )
    # dayofweek is 1=Sunday..7=Saturday; isodow is 1=Monday..7=Sunday.
    # Convert so both engines block identically.
    cells = cells.select(
        F.when(F.col("dow_raw") == 1, 7).otherwise(F.col("dow_raw") - 1)
        .cast("bigint")
        .alias("block"),
        "treat",
        "metric",
    )
    cells = pin(cells)  # rank + sums (scan-leaf lint)
    wr = Window.partitionBy("block").orderBy("metric", "treat")
    ranked = cells.select(
        "block", "treat", F.row_number().over(wr).cast("bigint").alias("r")
    )
    sums = ranked.groupBy("treat").agg(
        F.sum("r").cast("bigint").alias("rank_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    k_ = sums.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    sum_r2 = sums.agg(
        F.sum(F.col("rank_sum").cast("double") * F.col("rank_sum")).alias("s2")
    )
    return (
        sums.crossJoin(F.broadcast(k_))
        .crossJoin(F.broadcast(sum_r2))
        .select(
            "treat",
            "rank_sum",
            "n_blocks",
            F.round(
                F.lit(12.0)
                / (F.col("n_blocks") * F.col("k") * (F.col("k") + 1))
                * F.col("s2")
                - 3.0 * F.col("n_blocks") * (F.col("k") + 1),
                9,
            ).alias("friedman_chi2"),
        )
        .orderBy("treat")
    )


@query(
    "agg_jackknife_ratio",
    oracle="""
    WITH g AS (
        SELECT c_nationkey AS grp,
               CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS num,
               CAST(count(*) AS BIGINT) AS den
        FROM customer GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(num) AS BIGINT) AS tn, CAST(SUM(den) AS BIGINT) AS td,
               CAST(count(*) AS BIGINT) AS k
        FROM g
    ),
    loo AS (
        SELECT g.grp,
               CAST((SELECT tn FROM tot) - g.num AS DOUBLE)
                 / ((SELECT td FROM tot) - g.den) AS r_i
        FROM g
    ),
    full_r AS (
        SELECT CAST(tn AS DOUBLE) / td AS r, k FROM tot
    ),
    var_ AS (
        SELECT f.r, f.k,
               CAST(SUM(CAST(round((l.r_i - f.r) * (l.r_i - f.r), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS ssd
        FROM loo l CROSS JOIN full_r f
        GROUP BY f.r, f.k
    )
    SELECT k AS n_groups,
           round(r, 9) AS ratio,
           round(sqrt((k - 1.0) / k * ssd), 9) AS jackknife_se,
           round(r - CAST('1.959963984540054' AS DOUBLE)
                     * sqrt((k - 1.0) / k * ssd), 9) AS ci_lo,
           round(r + CAST('1.959963984540054' AS DOUBLE)
                     * sqrt((k - 1.0) / k * ssd), 9) AS ci_hi
    FROM var_
    """,
    tags=("agg", "statistics", "sampling"),
)
def agg_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of a ratio estimator
    (the survey-statistics workhorse for nonlinear statistics where a
    plain variance formula doesn't exist): the corpus-wide delinquency
    RATE (negative-balance customers / all customers) with nations as
    the jackknife groups — each replicate recomputes the ratio with
    one nation deleted, SE² = (k−1)/k · Σ(r_i − r)². Complements the
    Poisson bootstrap (row-resampled) with the grouped-replicate
    design production survey pipelines use.

    Exactness: replicates are ratios of exact integer differences —
    the leave-one-out trick needs only the group margins, never a
    second corpus pass; squared deviations round at 1e-12 into one
    decimal sum. Scale: one grouped count, then k-row algebra."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_nationkey").alias("grp")).agg(
        F.sum((F.col("c_acctbal") < 0).cast("int")).cast("bigint").alias("num"),
        F.count(F.lit(1)).cast("bigint").alias("den"),
    )
    tot = g.agg(
        F.sum("num").cast("bigint").alias("tn"),
        F.sum("den").cast("bigint").alias("td"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        ((F.col("tn") - F.col("num")).cast("double") / (F.col("td") - F.col("den"))).alias("r_i"),
        (F.col("tn").cast("double") / F.col("td")).alias("r"),
        "k",
    )
    var_ = loo.groupBy("r", "k").agg(
        F.sum(
            F.round((F.col("r_i") - F.col("r")) * (F.col("r_i") - F.col("r")), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("ssd")
    )
    se = F.sqrt((F.col("k") - 1.0) / F.col("k") * F.col("ssd"))
    z = F.expr("CAST('1.959963984540054' AS DOUBLE)")
    return var_.select(
        F.col("k").alias("n_groups"),
        F.round("r", 9).alias("ratio"),
        F.round(se, 9).alias("jackknife_se"),
        F.round(F.col("r") - z * se, 9).alias("ci_lo"),
        F.round(F.col("r") + z * se, 9).alias("ci_hi"),
    )


@query(
    "agg_jarque_bera",
    oracle="""
    WITH m AS (
        SELECT l_linestatus AS g,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
        FROM lineitem
        GROUP BY l_linestatus
    ),
    c AS (
        SELECT g, n,
               (s2 - s1 * s1 / n) / n AS m2,
               (s3 - 3 * (s1 / n) * s2 + 2 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n AS m3,
               (s4 - 4 * (s1 / n) * s3 + 6 * (s1 / n) * (s1 / n) * s2
                   - 3 * n * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / n AS m4
        FROM m
    ),
    jb AS (
        SELECT g, n,
               m3 / (m2 * sqrt(m2)) AS g1,
               m4 / (m2 * m2) - 3.0 AS g2
        FROM c
    )
    SELECT g,
           CAST(n AS BIGINT) AS n,
           round(n / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 9) AS jb_stat,
           n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
               > CAST(5.991464547107979 AS DOUBLE) AS reject_normal
    FROM jb
    ORDER BY g
    """,
    tags=("agg", "statistics"),
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per group: JB = n/6·(g1² + g2²/4)
    from the exact sample skewness g1 and excess kurtosis g2, compared
    to the chi-square(2) 95% critical value (5.991464547107979, a shared
    literal so both engines parse the identical double). l_quantity is
    uniform on 1..50, so normality is (correctly) rejected — the test
    exercises the full moment algebra.

    Same scale shape as `agg_skewness_kurtosis` (its grouping twin on
    l_linestatus): the four power sums are exact BIGINTs computed in ONE
    map-side-combined aggregate; everything after is per-group scalar
    algebra on identical IEEE doubles. 100 TB: one scan, one 2-group
    shuffle — nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    m = li.groupBy(F.col("l_linestatus").alias("g")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = (s2 - s1 * s1 / n) / n
    m3 = (s3 - F.lit(3) * mu * s2 + F.lit(2) * n * mu * mu * mu) / n
    m4 = (
        s4 - F.lit(4) * mu * s3 + F.lit(6) * mu * mu * s2 - F.lit(3) * n * mu * mu * mu * mu
    ) / n
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    return m.select(
        "g",
        n.cast("bigint").alias("n"),
        F.round(jb, 9).alias("jb_stat"),
        (jb > F.lit(5.991464547107979)).alias("reject_normal"),
    ).orderBy("g")


PERM_TEST_B = 32  # deterministic md5 label permutations


@query(
    "agg_permutation_test",
    oracle=f"""
    WITH obs AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS g,
               o_totalprice AS v
        FROM orders WHERE o_orderstatus IN ('O', 'F')
    ),
    base AS (
        SELECT CAST(SUM(CASE WHEN g = 1 THEN CAST(v AS DECIMAL(28,2)) END) AS DOUBLE)
                   / SUM(g)
               - CAST(SUM(CASE WHEN g = 0 THEN CAST(v AS DECIMAL(28,2)) END) AS DOUBLE)
                   / SUM(1 - g) AS obs_diff
        FROM obs
    ),
    reps AS (SELECT UNNEST(generate_series(0, {PERM_TEST_B - 1})) AS rep),
    perm AS (
        SELECT r.rep,
               CAST(concat('0x', substring(
                   md5(concat(CAST(o.k AS VARCHAR), '-', CAST(r.rep AS VARCHAR))),
                   1, 8)) AS BIGINT) % 2 AS pg,
               o.v
        FROM obs o CROSS JOIN reps r
    ),
    pdiff AS (
        SELECT rep,
               CAST(SUM(CASE WHEN pg = 1 THEN CAST(v AS DECIMAL(28,2)) END) AS DOUBLE)
                   / SUM(pg)
               - CAST(SUM(CASE WHEN pg = 0 THEN CAST(v AS DECIMAL(28,2)) END) AS DOUBLE)
                   / SUM(1 - pg) AS d
        FROM perm GROUP BY rep
    )
    SELECT CAST({PERM_TEST_B} AS BIGINT) AS n_perms,
           round(b.obs_diff, 9) AS observed_diff,
           CAST(SUM(CASE WHEN abs(p.d) >= abs(b.obs_diff) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           round(CAST(SUM(CASE WHEN abs(p.d) >= abs(b.obs_diff) THEN 1 ELSE 0 END)
                      AS DOUBLE) / {PERM_TEST_B}, 9) AS p_value
    FROM pdiff p CROSS JOIN base b
    GROUP BY b.obs_diff
    """,
    tags=("agg", "statistics"),
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample permutation test (Fisher's exact-randomization
    lineage) of the open-vs-finished mean order price: B=32
    deterministic label shuffles (md5(orderkey, rep) % 2 — the
    cross-engine hash used by every resampling operator here), p-value
    = fraction of permuted |mean diffs| at least as extreme as the
    observed one. The distribution-free twin of `agg_welch_ttest` —
    valid under ANY error distribution, the property the parametric
    tests buy with assumptions.

    100 TB: the ×B explode collapses in the SAME map-side-combined
    aggregate (per-replicate conditional decimal sums) — one wide scan,
    one 32-group shuffle, no per-row state. Group means are exact
    decimal sums over 2-dp money; the diff algebra is identical IEEE."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
    ).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    dec = "decimal(28,2)"
    base = o.agg(
        (
            F.sum(F.when(F.col("g") == 1, F.col("v").cast(dec))).cast("double") / F.sum("g")
            - F.sum(F.when(F.col("g") == 0, F.col("v").cast(dec))).cast("double")
            / F.sum(1 - F.col("g"))
        ).alias("obs_diff")
    )
    reps = spark.range(PERM_TEST_B).select(F.col("id").alias("rep"))
    perm = o.crossJoin(F.broadcast(reps)).select(
        "rep",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("-", F.col("k").cast("string"), F.col("rep").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("pg"),
        "v",
    )
    pdiff = perm.groupBy("rep").agg(
        (
            F.sum(F.when(F.col("pg") == 1, F.col("v").cast(dec))).cast("double")
            / F.sum("pg")
            - F.sum(F.when(F.col("pg") == 0, F.col("v").cast(dec))).cast("double")
            / F.sum(1 - F.col("pg"))
        ).alias("d")
    )
    return (
        pdiff.crossJoin(F.broadcast(base))
        .groupBy("obs_diff")
        .agg(
            F.lit(PERM_TEST_B).cast("bigint").alias("n_perms"),
            F.sum(
                F.when(F.abs(F.col("d")) >= F.abs(F.col("obs_diff")), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
        .select(
            "n_perms",
            F.round(F.col("obs_diff"), 9).alias("observed_diff"),
            "n_extreme",
            F.round(F.col("n_extreme") / float(PERM_TEST_B), 9).alias("p_value"),
        )
    )


@query(
    "agg_atkinson_index",
    oracle="""
    WITH pos AS (
        SELECT o_orderpriority AS priority, o_totalprice AS x FROM orders
    ),
    grp AS (
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu,
               CAST(SUM(CAST(round(ln(x), 9) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS mean_ln
        FROM pos GROUP BY priority
    )
    SELECT priority, n, round(mu, 6) AS mean_price,
           round(exp(mean_ln), 6) AS geometric_mean,
           round(1.0 - exp(mean_ln) / mu, 9) AS atkinson_eps1
    FROM grp
    ORDER BY priority
    """,
    tags=("agg", "inequality"),
)
def agg_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index at ε=1 per order priority — the
    welfare-theoretic companion to agg_theil_inequality: A₁ = 1 −
    geomean/mean, where the geometric mean is exp(mean of ln x)
    (prices are strictly positive). One grouped aggregation computes
    count, decimal price sum, and the round-9 ln-term decimal sum; the
    exp/ratio algebra runs on the 5-row group table as a shared double
    expression. At 100 TB this is a single map-side-combined hash agg
    — the same plan class as any SUM/AVG rollup; no per-row state ever
    leaves its partition unaggregated."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("x")
    )
    grp = o.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1)))
        .alias("mu"),
        (
            F.sum(F.round(F.log("x"), 9).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_ln"),
    )
    return grp.select(
        "priority",
        "n",
        F.round(F.col("mu"), 6).alias("mean_price"),
        F.round(F.exp(F.col("mean_ln")), 6).alias("geometric_mean"),
        F.round(1.0 - F.exp(F.col("mean_ln")) / F.col("mu"), 9).alias("atkinson_eps1"),
    ).orderBy("priority")


KMV_K = 100  # sketch size
_KMV_M = float(16 ** 15)  # hash space: md5 15-hex-digit prefix


@query(
    "agg_kmv_theta_sketch",
    oracle=f"""
    WITH el AS (
        SELECT DISTINCT event_type AS s,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || '#'
                                 || CAST(CAST(ts AS DATE) AS VARCHAR)),
                          1, 15)) AS BIGINT) AS h,
               user_id, CAST(ts AS DATE) AS d
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    kmv AS (
        SELECT s, list_sort(list(DISTINCT h))[1:{KMV_K}] AS ks
        FROM el GROUP BY s
    ),
    ab AS (
        SELECT a.ks AS ka, b.ks AS kb
        FROM kmv a, kmv b WHERE a.s = 'click' AND b.s = 'purchase'
    ),
    un AS (
        SELECT ka, kb,
               list_sort(list_distinct(list_concat(ka, kb)))[1:{KMV_K}] AS ku
        FROM ab
    ),
    est AS (
        -- exact-mode fallback (DataSketches theta contract): a sketch
        -- holding fewer than k values retains every element, so the
        -- estimate is the retained count
        SELECT CASE WHEN len(ka) < {KMV_K} THEN CAST(len(ka) AS DOUBLE)
                    ELSE CAST({KMV_K} - 1 AS DOUBLE) * {_KMV_M!r} / ka[{KMV_K}] END AS est_a,
               CASE WHEN len(kb) < {KMV_K} THEN CAST(len(kb) AS DOUBLE)
                    ELSE CAST({KMV_K} - 1 AS DOUBLE) * {_KMV_M!r} / kb[{KMV_K}] END AS est_b,
               CASE WHEN len(ku) < {KMV_K} THEN CAST(len(ku) AS DOUBLE)
                    ELSE CAST({KMV_K} - 1 AS DOUBLE) * {_KMV_M!r} / ku[{KMV_K}] END AS est_u,
               len(ku) < {KMV_K} AS exact_u,
               len(list_filter(ku, x -> list_contains(ka, x)
                                    AND list_contains(kb, x))) AS c_int,
               len(list_filter(ku, x -> list_contains(ka, x)
                                    AND NOT list_contains(kb, x))) AS c_diff
        FROM un
    ),
    exact AS (
        SELECT (SELECT count(DISTINCT (user_id, d)) FROM el WHERE s = 'click')
                   AS xa,
               (SELECT count(DISTINCT (user_id, d)) FROM el WHERE s = 'purchase')
                   AS xb,
               (SELECT count(*) FROM
                   (SELECT user_id, d FROM el WHERE s = 'click'
                    INTERSECT
                    SELECT user_id, d FROM el WHERE s = 'purchase')) AS xi
        FROM (SELECT 1)
    )
    SELECT m.measure, m.exact, m.estimate FROM (
        SELECT 'a_click' AS measure, CAST(x.xa AS BIGINT) AS exact,
               round(e.est_a, 6) AS estimate FROM est e, exact x
        UNION ALL
        SELECT 'b_purchase', CAST(x.xb AS BIGINT), round(e.est_b, 6)
        FROM est e, exact x
        UNION ALL
        SELECT 'union', CAST(x.xa + x.xb - x.xi AS BIGINT), round(e.est_u, 6)
        FROM est e, exact x
        UNION ALL
        SELECT 'intersection', CAST(x.xi AS BIGINT),
               round(CAST(e.c_int AS DOUBLE)
                     * (CASE WHEN e.exact_u THEN 1.0
                             ELSE e.est_u / {KMV_K} END), 6)
        FROM est e, exact x
        UNION ALL
        SELECT 'a_minus_b', CAST(x.xa - x.xi AS BIGINT),
               round(CAST(e.c_diff AS DOUBLE)
                     * (CASE WHEN e.exact_u THEN 1.0
                             ELSE e.est_u / {KMV_K} END), 6)
        FROM est e, exact x
    ) m
    ORDER BY m.measure
    """,
    tags=("agg", "sketch"),
    bench=True,
)
def agg_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch distinct counting with FULL set algebra
    (Beyer et al. 2007; the Apache DataSketches theta contract): keep
    the k smallest element hashes per set, estimate |S| = (k−1)·M/θ,
    and — the capability HLL fundamentally lacks — estimate
    INTERSECTION and DIFFERENCE by membership arithmetic inside the
    union sketch. Elements: (user, day) activity pairs for two event
    types; estimates sit beside exact ground truth in the output.
    Deterministic by construction (md5 element hash, no RNG), so the
    whole pipeline hash-matches the oracle.

    Scale shape: the KMV build is TWO-LEVEL — per-partition k-smallest
    (array_sort + slice on collect_list bounded by the partition's
    distinct elements, emitting ≤k values) then a k·partitions merge —
    so no set ever funnels through one task un-truncated; every
    subsequent operation (union, θ, membership counts) runs on ≤k-row
    arrays in 1-row frames. This is the sketch-mergeability argument
    verbatim: 100 TB reduces to k numbers per set per partition."""
    ev = pin(  # consumed by the sketch AND the exact panel
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("event_type").alias("s"),
            "user_id",
            F.to_date("ts").alias("d"),
        )
        .distinct(),
        eager=True,
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    el = ev.select("s", h).distinct()
    lvl1 = el.withColumn("pid", F.spark_partition_id()).groupBy("s", "pid").agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, KMV_K).alias("hs")
    )
    kmv = lvl1.groupBy("s").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("hs"))), 1, KMV_K).alias("ks")
    )
    # r14 (guide §2.4 / VERDICT task 1): the r13 shape filtered the
    # 2-row kmv frame TWICE (ka, kb) and cross-joined — each filter
    # replayed the whole sketch-build subtree (el distinct + two-level
    # KMV), doubling every stage of the build. One global pivot
    # aggregate extracts both sketches in a single pass of the build.
    # A missing event class leaves its sketch NULL: the pivot's one
    # row is dropped so the query returns zero rows, as the oracle's
    # cross join of the two sketches does.
    un = kmv.groupBy().agg(
        F.first(F.when(F.col("s") == "click", F.col("ks")), ignorenulls=True).alias(
            "ka"
        ),
        F.first(F.when(F.col("s") == "purchase", F.col("ks")), ignorenulls=True).alias(
            "kb"
        ),
    ).filter(F.col("ka").isNotNull() & F.col("kb").isNotNull()).select(
        "ka",
        "kb",
        F.slice(F.array_sort(F.array_union("ka", "kb")), 1, KMV_K).alias("ku"),
    )
    theta = lambda c: F.element_at(F.col(c), KMV_K).cast("double")
    # exact-mode fallback (DataSketches theta contract, ADVICE r8): a
    # sketch holding fewer than k values retains EVERY element (θ = 1),
    # so the estimate is the retained count — without this, element_at
    # (ks, k) is NULL and every downstream estimate silently nulls
    kmv_est = lambda c: F.when(
        F.size(F.col(c)) < KMV_K, F.size(F.col(c)).cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) * F.lit(_KMV_M) / theta(c))
    est = un.select(
        kmv_est("ka").alias("est_a"),
        kmv_est("kb").alias("est_b"),
        kmv_est("ku").alias("est_u"),
        # membership-arithmetic scale: retained-count / θ_u — in exact
        # mode every union element is retained, so the multiplier is 1
        (F.size(F.col("ku")) < KMV_K).alias("exact_u"),
        F.size(
            F.filter(
                "ku",
                lambda x: F.array_contains(F.col("ka"), x)
                & F.array_contains(F.col("kb"), x),
            )
        ).alias("c_int"),
        F.size(
            F.filter(
                "ku",
                lambda x: F.array_contains(F.col("ka"), x)
                & ~F.array_contains(F.col("kb"), x),
            )
        ).alias("c_diff"),
    )
    # exact ground-truth panel: pivot each (user, day) element to
    # has_click/has_purchase flags, then a single aggregate yields
    # |A|, |B|, and |A∩B|. r14 (VERDICT task 1): the panel no longer
    # round-trips the driver as a collect — its 1-row frame broadcast
    # cross-joins into the SAME final action as the sketch estimates,
    # so the whole query is one pin materialization plus one action.
    panel = (
        ev.groupBy("user_id", "d")
        .agg(
            F.max((F.col("s") == "click").cast("int")).alias("ca"),
            F.max((F.col("s") == "purchase").cast("int")).alias("cb"),
        )
        .agg(
            F.sum("ca").cast("bigint").alias("xa"),
            F.sum("cb").cast("bigint").alias("xb"),
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("xi"),
        )
    )
    rows = [
        ("a_click", F.col("xa"), F.round(F.col("est_a"), 6)),
        ("b_purchase", F.col("xb"), F.round(F.col("est_b"), 6)),
        (
            "union",
            F.col("xa") + F.col("xb") - F.col("xi"),
            F.round(F.col("est_u"), 6),
        ),
        (
            "intersection",
            F.col("xi"),
            F.round(
                F.col("c_int").cast("double")
                * F.when(F.col("exact_u"), F.lit(1.0)).otherwise(
                    F.col("est_u") / KMV_K
                ),
                6,
            ),
        ),
        (
            "a_minus_b",
            F.col("xa") - F.col("xi"),
            F.round(
                F.col("c_diff").cast("double")
                * F.when(F.col("exact_u"), F.lit(1.0)).otherwise(
                    F.col("est_u") / KMV_K
                ),
                6,
            ),
        ),
    ]
    # r13: ONE inline() over a literal struct array instead of a 5-way
    # unionByName — each union branch replayed the ENTIRE sketch-build
    # subtree (distinct + two-level KMV aggregates) because `est` is a
    # plan, not data; the pinned `ev` hid the recompute from the
    # scan-leaf lint (LogicalRDD leaves). Identical rows/values: the
    # same five (measure, exact, estimate) expressions, evaluated once.
    out = est.crossJoin(F.broadcast(panel)).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("measure"),
                        exact.cast("bigint").alias("exact"),
                        estimate.alias("estimate"),
                    )
                    for name, exact, estimate in rows
                ]
            )
        )
    )
    return out.orderBy("measure")


CM_W = 64  # count-min width (buckets per row)
CM_D = 4  # count-min depth (independent hash rows)
CM_PROBES = ("join", "hash", "scan", "vector", "spill", "watermark", "zzz_absent")


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS t
        FROM documents
    ),
    grid AS (
        SELECT d,
               CAST(concat('0x', substring(md5(concat(CAST(d AS VARCHAR), '|', t)),
                                           1, 8)) AS BIGINT) % {CM_W} AS w,
               count(*) AS c
        FROM tok, unnest(range(0, {CM_D})) AS u(d)
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT unnest(ARRAY[{", ".join(f"'{p}'" for p in CM_PROBES)}]) AS t
    ),
    est AS (
        SELECT p.t,
               min(COALESCE(g.c, 0)) AS cm_est
        FROM probes p
        CROSS JOIN unnest(range(0, {CM_D})) AS u(d)
        LEFT JOIN grid g
          ON g.d = u.d
         AND g.w = CAST(concat('0x', substring(md5(concat(CAST(u.d AS VARCHAR),
                                                          '|', p.t)), 1, 8))
                        AS BIGINT) % {CM_W}
        GROUP BY p.t
    ),
    exact AS (
        SELECT t, count(*) AS c FROM tok
        WHERE t IN ('join', 'hash', 'scan', 'vector', 'spill', 'watermark', 'zzz_absent')
        GROUP BY t
    )
    SELECT e.t AS token,
           CAST(COALESCE(x.c, 0) AS BIGINT) AS exact_count,
           CAST(e.cm_est AS BIGINT) AS cm_estimate,
           CAST(e.cm_est - COALESCE(x.c, 0) AS BIGINT) AS overestimate
    FROM est e LEFT JOIN exact x USING (t)
    ORDER BY e.t
    """,
    tags=("agg", "sketch"),
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005): a {CM_D}x{CM_W}
    counter grid over the corpus token stream; a point query reads one
    counter per hash row and returns the MIN — never an underestimate,
    overestimate bounded by collisions. The mergeable-sketch shape a
    100 TB frequency service wants: partial grids build map-side per
    partition (groupBy (d, bucket) with partial aggregation), merge by
    cell-wise addition, and the full stream is never retained.

    Probe set: fixed vocabulary literals (incl. one absent token whose
    estimate must come purely from collisions). Output pins the
    CM guarantee row-by-row: estimate >= exact, overestimate = the
    collision mass. Hash is the registry's cross-engine 32-bit md5
    prefix (the DSIR idiom)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.array_remove(F.split("text", r"\s+"), "")).alias("t")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("d").cast("string"), F.lit("|"), F.col("t"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % CM_W
    )
    grid = (
        tok.select("t", F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1))).alias("d"))
        .select("d", bucket.alias("w"))
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = spark.createDataFrame([(p,) for p in CM_PROBES], "t string")
    pd_ = probes.select(
        "t", F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1))).alias("d")
    ).select("t", "d", bucket.alias("w"))
    est = (
        pd_.join(F.broadcast(grid), ["d", "w"], "left")
        .groupBy("t")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cm_est"))
    )
    # the exact audit is a SECOND corpus pass restricted to the probe
    # set (filter ahead of the shuffle): at 100 TB two scans beat
    # caching an exploded token stream, and the audit pass reduces to
    # a |probes|-key aggregate instead of the full vocabulary
    exact = (
        tok.filter(F.col("t").isin(*CM_PROBES))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        est.join(exact, "t", "left")
        .select(
            F.col("t").alias("token"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("exact_count"),
            F.col("cm_est").cast("bigint").alias("cm_estimate"),
            (F.col("cm_est") - F.coalesce("c", F.lit(0)))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy("token")
    )


@query(
    "agg_wilcoxon_signed_rank",
    oracle="""
    WITH pairs AS (
        SELECT a.l_orderkey,
               CAST(a.l_extendedprice AS DOUBLE)
               - CAST(b.l_extendedprice AS DOUBLE) AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber = 1 AND b.l_linenumber = 2
        WHERE a.l_extendedprice <> b.l_extendedprice
    ),
    per_v AS (
        SELECT abs(d) AS v,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM pairs GROUP BY abs(d)
    ),
    cum AS (
        SELECT v, cnt, pos,
               COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev
        FROM per_v
    ),
    s AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(pos * (2 * cum_prev + cnt + 1)) AS BIGINT) AS w2,
               CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties3
        FROM cum
    )
    SELECT n AS n_pairs,
           round(w2 / 2.0, 6) AS w_plus,
           round((w2 / 2.0 - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2.0 * n + 1) / 24.0 - ties3 / 48.0),
                 6) AS z
    FROM s
    """,
    tags=("agg", "stats"),
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (paired, two-sided z approximation
    with the standard tie correction, no continuity correction) — the
    non-parametric paired-comparison companion to the registry's
    Mann-Whitney U (independent samples). Pairs: each order's line 1
    vs line 2 price; zero differences drop per the classic procedure.

    Exactness: tie-AVERAGED ranks never materialize per row — per
    distinct |d|, the average rank is cum_before + (cnt+1)/2, so
    W⁺ = Σ pos·(2·cum_before + cnt + 1) / 2 stays an exact INTEGER
    until one final halving; mean/variance/tie terms are integer
    closed forms. The rank prefix uses the distributed range-partition
    construction (dq_drift_ks's shape) — never a single-partition
    window over corpus-sized data."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").cast("double").alias("p")
    )
    a = li.filter(F.col("l_linenumber") == 1).select("l_orderkey", F.col("p").alias("pa"))
    b = li.filter(F.col("l_linenumber") == 2).select("l_orderkey", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") != F.col("pb"))
        .select((F.col("pa") - F.col("pb")).alias("d"))
    )
    per_v = pairs.groupBy(F.abs("d").alias("v")).agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("decimal(20,0)")
        .alias("pos"),
    )
    par = spark.sparkContext.defaultParallelism
    ranged = pin(
        per_v.repartitionByRange(par, "v")
        .withColumn("_pid", F.spark_partition_id()),
        eager=True,
    )
    wloc = Window.partitionBy("_pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum("cnt").alias("_t"))
        .select("_pid", F.coalesce(F.sum("_t").over(woff), F.lit(0)).alias("_o"))
    )
    cum = (
        ranged.withColumn("_l", F.coalesce(F.sum("cnt").over(wloc), F.lit(0)))
        .join(F.broadcast(offsets), "_pid")
        .select(
            "cnt",
            "pos",
            (F.col("_l") + F.col("_o")).alias("cum_prev"),
        )
    )
    s = cum.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            F.col("pos") * (2 * F.col("cum_prev") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("w2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("ties3"),
    )
    n, w2, t3 = F.col("n"), F.col("w2"), F.col("ties3")
    return s.select(
        n.alias("n_pairs"),
        F.round(w2 / 2.0, 6).alias("w_plus"),
        F.round(
            (w2 / 2.0 - n * (n + 1) / 4.0)
            / F.sqrt(n * (n + 1) * (2.0 * n + 1) / 24.0 - t3 / 48.0),
            6,
        ).alias("z"),
    )
