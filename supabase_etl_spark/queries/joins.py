"""Join surface (SURVEY.md §2.2 "Joins").

Star-schema joins over lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
plus the composite as-of / range joins over events. Dimension tables
are explicitly broadcast (region=5, nation=25 rows — broadcast at any
scale); fact-fact joins shuffle on their keys and rely on AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.joins import asof_join, bucketed_range_join, range_join
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query
from supabase_etl_spark.queries._helpers import dsum, sql_dsum


@query(
    "join_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "limit"),
    bench=True,
)
def join_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, agg, global top-k.

    Catalyst broadcast-joins the filtered customer side; the top-10
    compiles to TakeOrderedAndProject (no full sort at scale).
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "join_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "broadcast"),
    bench=True,
)
def join_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with broadcast dimensions."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 0.0) AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'F'
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no matching orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double"), F.lit(0.0)
            ).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_urgent,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 0.0) AS urgent_spend
    FROM orders
    RIGHT JOIN customer ON o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: the (filtered) orders side is the left input
    and every customer survives from the right — the mirror of
    join_left_outer, closing the last SURVEY §2.2 join form."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_urgent"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double"), F.lit(0.0)
            ).alias("urgent_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH big_spenders AS (
        SELECT o_custkey, COUNT(*) AS n_big
        FROM orders WHERE o_totalprice > 40000 GROUP BY o_custkey
    ),
    low_keys AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           c_name, n_big,
           (c_custkey IS NULL) AS only_right,
           (n_big IS NULL) AS only_left
    FROM low_keys
    FULL OUTER JOIN big_spenders ON c_custkey = o_custkey
    ORDER BY custkey
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows surviving on both sides."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 40000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_name")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_name",
            "n_big",
            F.col("c_custkey").isNull().alias("only_right"),
            F.col("n_big").isNull().alias("only_left"),
        )
        .orderBy("custkey")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≙ EXISTS: customers with at least one urgent order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≙ NOT EXISTS: customers with no pending orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    ORDER BY r_name, n_name
    """,
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join over bounded dimensions (5 × 25)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")


@query(
    "join_theta_non_equi",
    oracle="""
    SELECT o_orderkey, p_partkey, o_totalprice, p_retailprice
    FROM orders, part
    WHERE o_orderkey % 500 = 0
      AND p_partkey % 50 = 0
      AND o_totalprice > p_retailprice * 25
    ORDER BY o_orderkey, p_partkey
    """,
    tags=("join",),
)
def join_theta_non_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure inequality (theta) join — broadcast-nested-loop on bounded
    inputs. Both sides are pre-filtered; at scale a theta join must be
    banded/bucketed first (see operators.joins.range_join)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 0)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 50 == 0)
    return (
        o.join(p, o.o_totalprice > p.p_retailprice * 25)
        .select("o_orderkey", "p_partkey", "o_totalprice", "p_retailprice")
        .orderBy("o_orderkey", "p_partkey")
    )


@query(
    "join_range_session",
    oracle="""
    SELECT s.event_id AS signup_event, s.user_id,
           COUNT(e.event_id) AS events_within_hour
    FROM events s
    LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts >= s.ts
     AND e.ts < s.ts + INTERVAL 1 HOUR
     AND e.event_id <> s.event_id
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id, s.user_id
    ORDER BY s.event_id
    """,
    tags=("join", "range"),
)
def join_range_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: events within [signup_ts, signup_ts + 1h).

    Equi component (user_id) keeps it a hash join with a residual
    interval filter — the scalable shape (operators.joins.range_join).
    """
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event"),
        F.col("user_id"),
        F.col("ts").alias("signup_ts"),
    )
    others = ev.select(
        F.col("event_id").alias("other_event"),
        F.col("user_id").alias("other_user"),
        F.col("ts").alias("other_ts"),
    )
    joined = range_join(
        signups.withColumn("window_end", F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        others,
        by=[],
        left_start=F.col("signup_ts"),
        left_end=F.col("window_end"),
        right_time=F.col("other_ts"),
        how="left",
        extra_cond=lambda left, right: (left.user_id == right.other_user)
        & (left.signup_event != right.other_event),
    )
    return (
        joined.groupBy("signup_event", "user_id")
        .agg(F.count("other_event").alias("events_within_hour"))
        .orderBy("signup_event")
    )


@query(
    "join_asof_last_view_before_purchase",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT event_id AS view_event, user_id, ts AS view_ts, value AS view_value
        FROM events WHERE event_type = 'view'
    ),
    ranked AS (
        SELECT p.event_id, p.user_id, v.view_event, v.view_value,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id
                   ORDER BY v.view_ts DESC, v.view_event ASC, v.view_value ASC
               ) AS rn
        FROM purchases p
        LEFT JOIN views v ON v.user_id = p.user_id AND v.view_ts <= p.ts
    )
    SELECT event_id AS purchase_event, user_id, view_event AS last_view_event,
           view_value AS last_view_value
    FROM ranked WHERE rn = 1
    ORDER BY purchase_event
    """,
    tags=("join", "asof"),
)
def join_asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest 'view' event at-or-before each 'purchase',
    per user (operators.joins.asof_join)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        purchases,
        views,
        by=["user_id"],
        left_time="ts",
        right_time="view_ts",
        left_keys=["event_id"],
        direction="backward",
    )
    return out.select(
        F.col("l.event_id").alias("purchase_event"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.view_event").alias("last_view_event"),
        F.col("r.view_value").alias("last_view_value"),
    ).orderBy("purchase_event")


@query(
    "join_broadcast_region_rollup",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
    tags=("join", "broadcast"),
)
def join_broadcast_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of both dimension tables; the fact side never
    shuffles for the join (only for the final 5-group agg)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double").alias("total_balance"),
        )
        .orderBy("r_name")
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT s.event_id AS signup_event,
           COUNT(e.event_id) AS arrivals_5min,
           CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events s
    JOIN events e
      ON e.ts >= s.ts AND e.ts < s.ts + INTERVAL 5 MINUTE
     AND e.event_id <> s.event_id
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id
    ORDER BY signup_event
    """,
    tags=("join", "range"),
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi key): all events, any user, within
    5 minutes after each signup. Implemented with
    operators.joins.bucketed_range_join — the time axis is bucketed so
    the plan is an equi-join on bucket id + residual filter instead of
    the O(|L|·|R|) nested loop Spark would otherwise choose. The oracle
    states the naive non-equi form; results are identical."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("win_end"),
    )
    others = ev.select(
        F.col("event_id").alias("other_event"),
        F.col("ts").alias("other_ts"),
        F.col("value").alias("other_value"),
    )
    joined = bucketed_range_join(
        signups,
        others,
        left_start="win_start",
        left_end="win_end",
        right_time="other_ts",
        bucket_micros=5 * 60 * 1_000_000,
    ).filter(F.col("other_event") != F.col("signup_event"))
    return (
        joined.groupBy("signup_event")
        .agg(
            F.count("other_event").alias("arrivals_5min"),
            F.sum(F.col("other_value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .orderBy("signup_event")
    )


@query(
    "join_asof_forward_next_event",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    nxt AS (
        SELECT p.event_id, p.user_id, p.ts,
               e.event_id AS next_event, e.ts AS next_ts, e.event_type AS next_type,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id
                   ORDER BY e.ts ASC, e.event_id ASC
               ) AS rn
        FROM purchases p
        LEFT JOIN events e
          ON e.user_id = p.user_id AND e.ts > p.ts
    )
    SELECT event_id, user_id, next_event, next_ts, next_type
    FROM nxt WHERE rn = 1
    ORDER BY event_id
    """,
    tags=("join", "asof"),
)
def join_asof_forward_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: the first event strictly after each purchase
    per user (operators.joins.asof_join direction='forward',
    strict=True) — the counterpart of the backward as-of query. Equi
    component on user_id keeps it a hash join + rank, no nested loop."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select(
        F.col("user_id"),
        F.col("event_id").alias("next_event"),
        F.col("ts").alias("next_ts"),
        F.col("event_type").alias("next_type"),
    )
    out = asof_join(
        purchases,
        others,
        by=["user_id"],
        left_time="ts",
        right_time="next_ts",
        left_keys=["event_id"],
        direction="forward",
        strict=True,
    )
    return out.select(
        F.col("l.event_id").alias("event_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.next_event").alias("next_event"),
        F.col("r.next_ts").alias("next_ts"),
        F.col("r.next_type").alias("next_type"),
    ).orderBy("event_id")


@query(
    "join_null_safe_eq",
    oracle="""
    WITH l AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey % 5 END AS k
        FROM orders WHERE o_orderkey <= 500
    ),
    r AS (
        SELECT CASE WHEN g = 5 THEN NULL ELSE g END AS k,
               CASE WHEN g = 5 THEN 'null-bucket' ELSE 'bucket-' || g END AS label
        FROM (SELECT unnest([0, 1, 2, 3, 4, 5]) AS g)
    )
    SELECT l.o_orderkey, l.k, r.label
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    ORDER BY o_orderkey
    """,
    tags=("join",),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics SCD
    merges and late-dimension backfills need. Still a hash join (the
    null bucket is just one more key), not a fallback nested loop."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    left = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderkey") % 5)
        .alias("k"),
    )
    right = spark.createDataFrame(
        [(0, "bucket-0"), (1, "bucket-1"), (2, "bucket-2"),
         (3, "bucket-3"), (4, "bucket-4"), (None, "null-bucket")],
        "k bigint, label string",
    )
    return (
        left.join(right, left.k.eqNullSafe(right.k))
        .select("o_orderkey", left.k.alias("k"), "label")
        .orderBy("o_orderkey")
    )


# Conf keys scoped by join_bloom_runtime_filter (saved/restored around
# the eager execution).
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # fact scans at test sf are ~1 MB; production default is 10 GB
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
    # bloom filters only inject on shuffle joins (a broadcast join's
    # build side already prunes); disable size-based broadcast so the
    # join planner picks the shuffle path the 100 TB case would take
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filter_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan under test: selective dim filter on orders, equi
    join into the lineitem fact, rollup by priority. With the
    `_BLOOM_CONFS` scope active, Catalyst builds a bloom filter from
    the filtered dim keys and injects `might_contain(xxhash64(
    l_orderkey))` into the fact leg — rows failing the membership test
    die before the shuffle write, cutting exchanged bytes by the dim's
    selectivity (the decisive win when the fact side is 100 TB).
    Exposed separately so tests/test_plan_shapes.py can assert the
    `might_contain` subquery on the executed plan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 400000
    ).select("o_orderkey", "o_orderpriority")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(rev, "revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_bloom_runtime_filter",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice >= 400000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "scale"),
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction, scoped so the session
    confs it needs do not leak: the plan executes eagerly (
    an eager pin) inside a save/restore of `_BLOOM_CONFS`, then the
    materialized result is returned. The interesting part — the
    injected `might_contain` filter on the fact scan — is pinned by a
    plan-shape test against `bloom_filter_join_plan`."""
    saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        return pin(bloom_filter_join_plan(spark, sf_dir), eager=True)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


OVERLAP_BUCKET_DAYS = 30


@query(
    "join_interval_overlap",
    oracle="""
    WITH promo AS (
        SELECT o_orderkey AS promo_id,
               CAST(o_orderdate AS DATE) AS p_start,
               CAST(o_orderdate AS DATE) + INTERVAL 20 DAY AS p_end
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    ship AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_shipdate AS DATE) AS s_start,
               CAST(l_shipdate AS DATE) + INTERVAL 10 DAY AS s_end
        FROM lineitem WHERE l_orderkey <= 4000
    )
    SELECT p.promo_id, s.l_orderkey, s.l_linenumber
    FROM promo p JOIN ship s
      ON p.p_start <= s.s_end AND s.s_start <= p.p_end
    ORDER BY promo_id, l_orderkey, l_linenumber
    """,
    tags=("join", "interval", "scale"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (two interval tables, match when the
    validity windows intersect) — the SCD2-meets-event-window shape,
    distinct from the point-in-interval join (join_range_session).
    Naively this is a non-equi theta join (nested loop). The scale
    shape: explode BOTH sides onto the 30-day buckets their interval
    covers, equi-join on bucket, then verify the true overlap predicate
    and distinct — any overlapping pair shares at least one covered
    bucket, so recall is exact; the bucket equi-join hash-partitions
    what the nested loop would broadcast. Bucket width trades
    replication (intervals span few buckets when wide) against
    candidate precision (narrow buckets → fewer false candidates);
    both interval widths here span ≤ 2 buckets."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    promo = o.select(
        F.col("o_orderkey").alias("promo_id"),
        F.col("o_orderdate").cast("date").alias("p_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 20).alias("p_end"),
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 4000)
    ship = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("s_start"),
        F.date_add(F.col("l_shipdate").cast("date"), 10).alias("s_end"),
    )

    def buckets(start, end):
        lo = F.floor(F.unix_date(start) / OVERLAP_BUCKET_DAYS)
        hi = F.floor(F.unix_date(end) / OVERLAP_BUCKET_DAYS)
        return F.explode(F.sequence(lo, hi))

    pb = promo.withColumn("bk", buckets(F.col("p_start"), F.col("p_end")))
    sb = ship.withColumn("bk", buckets(F.col("s_start"), F.col("s_end")))
    # ownership rule instead of distinct(): a pair spanning several
    # shared buckets is emitted only in the bucket containing the
    # overlap's start — exactly-once per input row pair WITHOUT a
    # dedup shuffle, and duplicate source rows (present in this
    # synthetic lineitem) survive like the oracle's plain join
    own = F.floor(
        F.unix_date(F.greatest(F.col("p_start"), F.col("s_start")))
        / OVERLAP_BUCKET_DAYS
    )
    return (
        pb.join(sb, "bk")
        .filter(
            (F.col("p_start") <= F.col("s_end"))
            & (F.col("s_start") <= F.col("p_end"))
            & (F.col("bk") == own)
        )
        .select("promo_id", "l_orderkey", "l_linenumber")
        .orderBy("promo_id", "l_orderkey", "l_linenumber")
    )


GRID_CELL = 100  # spatial grid cell width (coordinate units)


@query(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS pid,
               CAST((c_custkey * 48271) % 1000 AS DOUBLE) AS px,
               CAST((c_custkey * 69621) % 1000 AS DOUBLE) AS py
        FROM customer
    ),
    rects AS (
        SELECT s_suppkey AS rid,
               CAST((s_suppkey * 16807) % 900 AS DOUBLE) AS x0,
               CAST((s_suppkey * 39373) % 900 AS DOUBLE) AS y0,
               CAST((s_suppkey * 16807) % 900 + 60 + (s_suppkey % 80) AS DOUBLE) AS x1,
               CAST((s_suppkey * 39373) % 900 + 60 + (s_suppkey % 80) AS DOUBLE) AS y1
        FROM supplier
    )
    SELECT r.rid, p.pid, p.px, p.py
    FROM rects r JOIN pts p
      ON p.px >= r.x0 AND p.px <= r.x1 AND p.py >= r.y0 AND p.py <= r.y1
    ORDER BY rid, pid
    """,
    tags=("join", "spatial", "scale"),
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial containment join (points in rectangles) via grid
    bucketing — the 2-D generalization of join_range_bucketed's 1-D
    time buckets, and the core of every distributed spatial engine
    (Sedona's partitioned spatial join is this plus real geometry):
    each rectangle explodes onto the grid cells it covers, each point
    onto its single cell, and the equi-join on (cx, cy) replaces the
    quadratic theta join; exact containment verifies candidates.
    Coordinates derive deterministically from keys (LCG-style integer
    arithmetic) so the oracle replays them bit-identically — the
    geometry is synthetic, the join plumbing is the real thing. Cell
    width tunes replication (rect spans ~1-2 cells per axis here)
    against candidate precision, same trade as every bucketing lever
    in this repo."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 48271) % 1000).cast("double").alias("px"),
        ((F.col("c_custkey") * 69621) % 1000).cast("double").alias("py"),
    )
    s = load_table(spark, sf_dir, "supplier")
    rects = s.select(
        F.col("s_suppkey").alias("rid"),
        ((F.col("s_suppkey") * 16807) % 900).cast("double").alias("x0"),
        ((F.col("s_suppkey") * 39373) % 900).cast("double").alias("y0"),
        ((F.col("s_suppkey") * 16807) % 900 + 60 + (F.col("s_suppkey") % 80))
        .cast("double")
        .alias("x1"),
        ((F.col("s_suppkey") * 39373) % 900 + 60 + (F.col("s_suppkey") % 80))
        .cast("double")
        .alias("y1"),
    )
    rcells = rects.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("x0") / GRID_CELL), F.floor(F.col("x1") / GRID_CELL)
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("y0") / GRID_CELL), F.floor(F.col("y1") / GRID_CELL)
            )
        ).alias("cy"),
    )
    pcells = pts.select(
        "*",
        F.floor(F.col("px") / GRID_CELL).alias("cx"),
        F.floor(F.col("py") / GRID_CELL).alias("cy"),
    )
    return (
        rcells.join(pcells, ["cx", "cy"])
        .filter(
            (F.col("px") >= F.col("x0"))
            & (F.col("px") <= F.col("x1"))
            & (F.col("py") >= F.col("y0"))
            & (F.col("py") <= F.col("y1"))
        )
        .select("rid", "pid", "px", "py")
        .orderBy("rid", "pid")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT event_id AS pe, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id AS ve, user_id, ts AS vts, value FROM events
        WHERE event_type = 'view'
    ),
    cand AS (
        SELECT p.pe, v.ve, v.value,
               row_number() OVER (
                   PARTITION BY p.pe
                   ORDER BY abs(epoch_us(v.vts) - epoch_us(p.ts)),
                            CASE WHEN v.vts > p.ts THEN 1 ELSE 0 END,
                            v.ve, v.user_id, v.value
               ) AS rn
        FROM p JOIN v
          ON v.user_id = p.user_id
         AND v.vts >= p.ts - INTERVAL 30 MINUTES
         AND v.vts <= p.ts + INTERVAL 30 MINUTES
    )
    SELECT p.pe AS purchase_event, p.user_id,
           c.ve AS nearest_view, c.value AS view_value
    FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON p.pe = c.pe
    ORDER BY purchase_event
    """,
    tags=("join", "asof"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST with tolerance — pandas merge_asof(direction=
    'nearest', tolerance=30min) semantics: each purchase takes the
    view of the same user closest in time within ±30 minutes,
    equidistant ties resolving backward (the pandas rule). The
    tolerance is part of the join predicate, so the candidate fan-out
    is bounded before the per-left-row rank — at 100 TB that bound is
    what keeps the equi-join on user_id from degenerating under
    high-frequency right streams."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        purchases,
        views,
        by=["user_id"],
        left_time="ts",
        right_time="view_ts",
        left_keys=["event_id"],
        direction="nearest",
        tolerance="INTERVAL 30 MINUTES",
    )
    return out.select(
        F.col("l.event_id").alias("purchase_event"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.view_event").alias("nearest_view"),
        F.col("r.view_value").alias("view_value"),
    ).orderBy("purchase_event")


@query(
    "join_asof_tolerance",
    oracle="""
    WITH p AS (
        SELECT event_id AS pe, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id AS ve, user_id, ts AS vts, value FROM events
        WHERE event_type = 'view'
    ),
    cand AS (
        SELECT p.pe, v.ve, v.value,
               row_number() OVER (
                   PARTITION BY p.pe
                   ORDER BY v.vts DESC, v.ve, v.user_id, v.value
               ) AS rn
        FROM p JOIN v
          ON v.user_id = p.user_id
         AND v.vts <= p.ts
         AND v.vts >= p.ts - INTERVAL 30 MINUTES
    )
    SELECT p.pe AS purchase_event, p.user_id,
           c.ve AS last_view_event, c.value AS view_value
    FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON p.pe = c.pe
    ORDER BY purchase_event
    """,
    tags=("join", "asof"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 30-minute tolerance (pandas
    merge_asof(tolerance=...) parity): the latest view at-or-before
    each purchase, but only if it happened within the last half hour —
    stale context is worse than none for attribution features. The
    tolerance tightens the join predicate itself (not a post-filter),
    shrinking candidates before the rank."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        purchases,
        views,
        by=["user_id"],
        left_time="ts",
        right_time="view_ts",
        left_keys=["event_id"],
        direction="backward",
        tolerance="INTERVAL 30 MINUTES",
    )
    return out.select(
        F.col("l.event_id").alias("purchase_event"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.view_event").alias("last_view_event"),
        F.col("r.view_value").alias("view_value"),
    ).orderBy("purchase_event")


GEO_DEG2RAD = 0.017453292519943295  # math.radians(1), shared literal
GEO_CELL_DEG = 30
GEO_QUERIES = 10
GEO_KNN = 3
GEO_EARTH_KM = 6371.0


@query(
    "join_geo_haversine_knn",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat,
               CAST((c_custkey * 101) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
               CAST(FLOOR((CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100.0 - 85.0)
                          / {GEO_CELL_DEG}) AS BIGINT) AS cx,
               CAST(FLOOR((CAST((c_custkey * 101) % 36000 AS DOUBLE) / 100.0 - 180.0)
                          / {GEO_CELL_DEG}) AS BIGINT) AS cy
        FROM customer
    ),
    q AS (
        SELECT p.id AS qid, p.lat AS qlat, p.lon AS qlon,
               p.cx + dx.d AS cx, p.cy + dy.d AS cy
        FROM pts p,
             (SELECT unnest(range(-1, 2)) AS d) dx,
             (SELECT unnest(range(-1, 2)) AS d) dy
        WHERE p.id <= {GEO_QUERIES}
    ),
    cand AS (
        SELECT q.qid, q.qlat, q.qlon, c.id AS cid, c.lat, c.lon
        FROM q JOIN pts c ON q.cx = c.cx AND q.cy = c.cy
        WHERE c.id <> q.qid
    ),
    scored AS (
        SELECT qid, cid,
               round(2.0 * {GEO_EARTH_KM} * asin(sqrt(
                   sin((lat - qlat) * {GEO_DEG2RAD} / 2.0)
                       * sin((lat - qlat) * {GEO_DEG2RAD} / 2.0)
                   + cos(qlat * {GEO_DEG2RAD}) * cos(lat * {GEO_DEG2RAD})
                     * sin((lon - qlon) * {GEO_DEG2RAD} / 2.0)
                     * sin((lon - qlon) * {GEO_DEG2RAD} / 2.0))), 6) AS dist_km
        FROM cand
    ),
    ranked AS (
        SELECT qid, cid, dist_km,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY dist_km ASC, cid ASC) AS rn
        FROM scored
    )
    SELECT qid, cid, dist_km, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {GEO_KNN}
    ORDER BY qid, rn
    """,
    tags=("join", "geo"),
)
def join_geo_haversine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial k-nearest-neighbor via grid-bucketed haversine: points
    get deterministic (lat, lon) and a 30° grid cell; each query point
    probes its 3×3 cell neighborhood (a 9× explode of the tiny query
    side), candidates equi-join on the cell key, and exact great-circle
    distances rank inside the neighborhood — the standard geo-KNN shape
    where candidate count tracks local density, never corpus size
    (production shrinks cells and adds a ring-expansion retry for empty
    neighborhoods). Distances are rounded to 1e-6 km BEFORE ranking so
    last-ulp libm differences between engines cannot flip an order."""
    c = load_table(spark, sf_dir, "customer")
    lat = ((F.col("c_custkey") * 37) % 17000).cast("double") / 100.0 - 85.0
    lon = ((F.col("c_custkey") * 101) % 36000).cast("double") / 100.0 - 180.0
    pts = c.select(
        F.col("c_custkey").alias("id"),
        lat.alias("lat"),
        lon.alias("lon"),
        F.floor(lat / GEO_CELL_DEG).cast("bigint").alias("cx"),
        F.floor(lon / GEO_CELL_DEG).cast("bigint").alias("cy"),
    )
    d = spark.range(-1, 2).select(F.col("id").alias("d"))
    q = (
        pts.filter(F.col("id") <= GEO_QUERIES)
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dy"))))
        .select(
            F.col("id").alias("qid"),
            F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"),
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    cand = pts.join(F.broadcast(q), ["cx", "cy"]).filter(F.col("id") != F.col("qid"))
    dlat = (F.col("lat") - F.col("qlat")) * GEO_DEG2RAD / 2.0
    dlon = (F.col("lon") - F.col("qlon")) * GEO_DEG2RAD / 2.0
    hav = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.col("qlat") * GEO_DEG2RAD)
        * F.cos(F.col("lat") * GEO_DEG2RAD)
        * F.sin(dlon)
        * F.sin(dlon)
    )
    dist = F.round(2.0 * GEO_EARTH_KM * F.asin(F.sqrt(hav)), 6)
    w = Window.partitionBy("qid").orderBy(F.col("dist_km").asc(), F.col("cid").asc())
    return (
        cand.select("qid", F.col("id").alias("cid"), dist.alias("dist_km"))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= GEO_KNN)
        .orderBy("qid", "rn")
    )

