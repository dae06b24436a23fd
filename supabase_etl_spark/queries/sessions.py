"""Batch sessionization over ``events`` — the classic event-analytics
operator (gap-based session assignment) as a declarative two-window
plan. The streaming counterpart (session_window with watermark) lives
in queries/streaming.py; this is the batch/backfill shape.

Scale: both windows partition by user_id — one shuffle, then
scan-order work inside each partition; the final per-session rollup
reuses the same partitioning. No Python, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query
from supabase_etl_spark.queries._helpers import dsum, sql_dsum

SESSION_GAP_MIN = 30


@query(
    "events_sessionize",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSION_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, value,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
        FROM ordered
    )
    SELECT user_id, session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """,
    tags=("events", "window"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes. lag → boundary flag → running
    sum = session index, then per-session aggregates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id", "ts", "event_id", "value", is_new.alias("is_new")
    ).withColumn("session_idx", F.sum("is_new").over(w_run))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_idx")
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS c_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.v_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        GROUP BY e.user_id
    )
    SELECT count(v.user_id) AS n_view,
           count(c.user_id) AS n_view_click,
           count(p.user_id) AS n_view_click_purchase,
           CAST(count(c.user_id) AS DOUBLE) / count(v.user_id) AS click_rate,
           CAST(count(p.user_id) AS DOUBLE) / count(v.user_id) AS purchase_rate
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
    tags=("events",),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel progression (view → click → purchase): each stage
    keeps users whose first qualifying event happens at-or-after their
    previous stage's first event. Three conditional min-aggregations
    chained by user_id equi-joins — every shuffle is on the same key,
    so a cluster re-uses one hash partitioning end to end; no windows,
    no row explosion."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    v = pin(v)  # next stage + final counts (scan-leaf lint)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    c = pin(c)  # next stage + final counts (scan-leaf lint)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    joined = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return joined.agg(
        F.count("v_ts").alias("n_view"),
        F.count("c_ts").alias("n_view_click"),
        F.count("p_ts").alias("n_view_click_purchase"),
        (F.count("c_ts").cast("double") / F.count("v_ts")).alias("click_rate"),
        (F.count("p_ts").cast("double") / F.count("v_ts")).alias("purchase_rate"),
    )


@query(
    "events_session_window_batch",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n,
           {sql_dsum("value", "total_value")}
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("events", "session"),
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window in a plain BATCH aggregate — the same
    session-merging operator the streaming path uses
    (stream_session_window), run over the table at rest with no
    watermark/sentinel machinery: one hash aggregate whose keys merge
    on gap overlap, no lag/running-sum window cascade. Same oracle as
    the streaming variant and as events_sessionize's gaps-and-islands
    formulation — three spellings, one answer — proving the unified
    batch/stream API surface."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
    return agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n",
        "total_value",
    ).orderBy("user_id", "session_start")


PATH_MAX_STEPS = 5  # leading events per session path
PATH_TOP_K = 20


@query(
    "events_top_paths",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        > {SESSION_GAP_MIN} * 60 * 1000000
                     OR lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_idx,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS seq
        FROM flagged
    ),
    numbered AS (
        SELECT user_id, session_idx, event_type,
               row_number() OVER (PARTITION BY user_id, session_idx
                                  ORDER BY ts, event_id) AS step
        FROM sess
    ),
    paths AS (
        SELECT user_id, session_idx,
               string_agg(event_type, '>' ORDER BY step) AS path
        FROM numbered
        WHERE step <= {PATH_MAX_STEPS}
        GROUP BY user_id, session_idx
    ),
    ranked AS (
        SELECT path, count(*) AS n_sessions,
               row_number() OVER (ORDER BY count(*) DESC, path) AS rn
        FROM paths GROUP BY path
    )
    SELECT path, n_sessions, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {PATH_TOP_K}
    ORDER BY rank
    """,
    tags=("events", "sessions"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: sessionize (same 30-min-gap rule as
    events_sessionize), take each session's first {PATH_MAX_STEPS}
    event types as a '>'-joined path, count sessions per path, keep
    the top {PATH_TOP_K} — the product-analytics \"what do people do
    first\" query.

    One user-keyed window pass produces session ids AND step numbers;
    the path build is an ordered listagg per session; the final top-K
    is a TakeOrdered over path counts (the path domain is tiny
    relative to sessions). No corpus self-joins anywhere."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type", is_new.alias("is_new")
    ).withColumn("session_idx", F.sum("is_new").over(w_run))
    w_sess = Window.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
    numbered = sess.withColumn("step", F.row_number().over(w_sess)).filter(
        F.col("step") <= PATH_MAX_STEPS
    )
    paths = (
        numbered.groupBy("user_id", "session_idx")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    wr = Window.orderBy(F.desc("n_sessions"), "path")
    return (
        counts.orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP_K)
        .withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .orderBy("rank")
    )


BOUNCE_GAP_MIN = 30  # session gap, matching events_sessionize


@query(
    "events_bounce_rate",
    oracle=f"""
    WITH ordered_ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                         OR epoch_us(ts)
                            - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
                            > {BOUNCE_GAP_MIN * 60 * 1000000}
                    THEN 1 ELSE 0 END AS is_start
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered_ev
    ),
    per_sess AS (
        SELECT user_id, session_no,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MIN(ts) AS DATE) AS day
        FROM sess GROUP BY user_id, session_no
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS bounce_rate
    FROM per_sess
    GROUP BY day
    ORDER BY day
    """,
    tags=("events", "sessions"),
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the fraction of 30-minute-gap sessions that
    contain exactly ONE event — the engagement-floor metric every web
    dashboard leads with, built on the same gap-sessionization as
    events_sessionize (lag + cumulative session numbering per user) so
    the session boundaries agree across the operators. Sessions bucket
    to the day of their first event; per-user windows, one grouped
    count."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_start = F.when(
        F.lag("ts").over(w).isNull() | (gap_s > BOUNCE_GAP_MIN * 60 * 1000000), 1
    ).otherwise(0)
    sess = ev.select("user_id", "ts", "event_id", is_start.alias("is_start")).select(
        "user_id",
        "ts",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    per_sess = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("ts").cast("date").alias("day")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        per_sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounce.alias("n_bounces"),
            (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
        )
        .orderBy("day")
    )
