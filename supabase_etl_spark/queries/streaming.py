"""Streaming queries over ``events`` (SURVEY.md §2.2 "Streaming").

Each query runs a real Structured Streaming plan (readStream file
source → event-time transforms → memory sink) to completion with
``Trigger.AvailableNow`` and returns the sink table; the oracle is the
equivalent *batch* SQL in DuckDB — the batch-equivalence discipline
from SURVEY §5.2(4). Value sums go through decimal so parallel/stream
accumulation order can't skew doubles.

Emission-mode notes (the pitfalls are the spec):
* tumbling/sliding aggs run in **complete** mode — append mode would
  withhold windows past the final watermark, silently dropping the tail
  of a bounded replay;
* session windows don't allow complete mode (unbounded keys), so they
  run in **update** mode with a large watermark delay and a last-wins
  post-merge keyed on (user_id, session_start);
* the stateful ops post-merge the same way — exact for a single
  AvailableNow batch, and convergent (max of monotone counters) if the
  source splits into several.

Incremental replay has one path. A multi-batch query hands its
micro-batches, as one frame each, to ``streaming.source.landing_zone_stream``,
which writes one parquet file per batch with mtimes pinned in batch order
and reads them back with ``maxFilesPerTrigger=1``, so micro-batch r is
frame r. A foreachBatch consumer runs through
``streaming.sinks.run_foreach_batch``. The three ingest capstones share
``_incremental_ingest``: per batch a gate, a min-doc_id dedup, an anti-join
against the manifest snapshot, an append commit and one ledger row; the
result is that ledger joined with the final snapshot's readback.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query
from supabase_etl_spark.queries._helpers import dsum, sql_dsum
from supabase_etl_spark.streaming.sinks import run_foreach_batch
from supabase_etl_spark.streaming.source import (
    landing_zone_stream,
    read_events_stream,
    run_available_now,
)

CHECKSUM_K = 31
CHECKSUM_P = 1_000_000_007


@query(
    "stream_append_pipeline",
    oracle="""
    SELECT event_id, ts, user_id, value,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
    tags=("streaming",),
)
def stream_append_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream: filter + JSON extraction in append mode — the
    pure-map pipeline shape (no state, no watermark, each file batch
    flows straight through)."""
    s = read_events_stream(spark, sf_dir)
    out = s.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return run_available_now(out, "append").orderBy("event_id")


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n,
           {sql_dsum("value", "total_value")}
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
    tags=("streaming",),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event type, with a
    10-minute watermark (bounds state at scale; complete mode emits the
    full history for the bounded replay)."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value")
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )
    return run_available_now(out, "complete").orderBy("window_start", "event_type")


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - k * (INTERVAL '15 minutes') AS window_start,
               value
        FROM events
        CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
        WHERE event_type = 'click'
    )
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           count(*) AS n,
           {sql_dsum("value", "total_value")}
    FROM expanded
    GROUP BY 1, 2
    ORDER BY window_start
    """,
    tags=("streaming",),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes over click events: each
    event lands in 4 overlapping windows (what the oracle replays by
    unnesting the 4 aligned starts)."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        s.filter(F.col("event_type") == "click")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n",
        "total_value",
    )
    return run_available_now(out, "complete").orderBy("window_start")


@query(
    "stream_session_window",
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
    tags=("streaming",),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (F.session_window merges across micro-batches); the oracle is the
    classic batch gaps-and-islands formulation.

    Session aggregation only supports append mode, and append only
    emits sessions already sealed by the watermark — which would
    withhold every user's final session on a bounded replay. The fix is
    the flush-sentinel idiom: union a far-future synthetic event per
    user, which (a) advances the watermark past every real session and
    (b) forms its own one-event session that the watermark then
    withholds — so the sink contains exactly the real sessions."""
    s = read_events_stream(spark, sf_dir)
    flush = s.select(
        "event_id",
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        "user_id",
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    merged = s.unionByName(flush).withWatermark("ts", "1 minute")
    agg = merged.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n",
        "total_value",
    )
    sink = run_available_now(out, "append")
    return sink.filter(F.col("session_start") < F.lit("2029-01-01")).orderBy(
        "user_id", "session_start"
    )


@query(
    "stream_stateful_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming",),
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream dedup: the source unioned with itself plants a
    duplicate of every event; dropDuplicatesWithinWatermark('event_id')
    collapses them back before a complete-mode count — so the oracle is
    the plain batch count of the original (unique) events."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    dd = a.unionByName(b).withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = dd.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return run_available_now(agg, "complete").orderBy("event_type")


@query(
    "stream_stateful_counter",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM((event_id % {CHECKSUM_P}) * {CHECKSUM_K}) % {CHECKSUM_P}
                AS BIGINT) AS checksum
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming",),
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful op: a per-user running counter + modular
    checksum held in keyed state across micro-batches — the
    custom-operator escape hatch for logic windowed aggs can't express.
    Dispatches between Spark 4's two stateful APIs
    (transformWithStateInPandas where the runtime supports it,
    applyInPandasWithState otherwise — streaming/stateful.py); integer
    state only (order-independent), so the final state equals the batch
    recompute on either path."""
    from supabase_etl_spark.streaming.stateful import running_counter

    s = read_events_stream(spark, sf_dir)
    out = running_counter(s, CHECKSUM_P, CHECKSUM_K)
    sink = run_available_now(out, "update")
    # last-wins merge if the replay split into several batches
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


@query(
    "stream_static_enrich",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
           c.c_mktsegment AS mktsegment,
           count(*) AS n,
           {sql_dsum("e.value", "total_value")}
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY window_start, mktsegment
    """,
    tags=("streaming", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the live event stream joined to a
    static broadcast dimension (customer → market segment), then a
    tumbling event-time rollup per segment. Stream-static inner joins
    are STATELESS — every micro-batch hash-joins against the (re-read)
    static side, so at cluster scale the dim is a broadcast per batch
    and the only state is the windowed agg. This is the canonical
    "enrich the firehose with a slowly-changing dim" shape the
    reference's per-run pandas merge cannot express incrementally."""
    from supabase_etl_spark.io.readers import load_table

    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
    )
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    enriched = s.join(dim, "user_id", "inner")
    agg = enriched.groupBy(F.window("ts", "1 hour"), "mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value")
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        "mktsegment",
        "n",
        "total_value",
    )
    return run_available_now(out, "complete").orderBy("window_start", "mktsegment")


@query(
    "stream_stream_interval_join",
    oracle=f"""
    SELECT p.event_id AS purchase_event, p.user_id,
           v.event_id AS view_event,
           {sql_dsum("v.value", "viewed_value")}
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
     AND v.event_type = 'view'
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, v.event_id
    ORDER BY purchase_event, view_event
    """,
    tags=("streaming", "join"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the views
    of the same user in the preceding hour — both sides are live
    streams with watermarks (required so Spark can bound the join
    state: a view older than the watermark minus the interval can never
    match a future purchase and is evicted). Inner joins emit on match
    arrival, so a bounded replay yields exactly the batch answer."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("view_user") == F.col("user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "inner",
    ).select(
        "purchase_event",
        "user_id",
        "view_event",
        F.col("view_value").cast("decimal(28,6)").alias("dec_value"),
    )
    sink = run_available_now(joined, "append")
    return (
        sink.groupBy("purchase_event", "user_id", "view_event")
        .agg(F.sum("dec_value").cast("double").alias("viewed_value"))
        .orderBy("purchase_event", "view_event")
    )


@query(
    "stream_ohlc_bars",
    oracle="""
    WITH keyed AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 day', ts) AS bar_start,
               value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
        FROM events
    )
    SELECT event_type, bar_start,
           arg_min(value, ord_key) AS open,
           max(value)              AS high,
           min(value)              AS low,
           arg_max(value, ord_key) AS close,
           count(*)                AS n_ticks
    FROM keyed
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
    tags=("streaming", "finance"),
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily OHLC candles — the batch events_ohlc_bars
    recomputed as a watermarked streaming aggregate, proving positional
    aggregates (min_by/max_by) run incrementally inside Structured
    Streaming state: per (event_type, day-window) partial extrema merge
    across micro-batches exactly like sum/count partials, so a live
    ticker feed maintains candles with bounded state (watermark seals a
    day, state for sealed windows is dropped). Batch-equivalence oracle:
    the complete-mode replay hash-matches DuckDB computing the same
    candles over the table at rest."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    ord_key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    keyed = s.select(
        "event_type",
        "ts",
        "value",
        ord_key.alias("ord_key"),
    )
    agg = keyed.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.min_by("value", F.col("ord_key")).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.col("ord_key")).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    out = agg.select(
        "event_type",
        F.col("window.start").alias("bar_start"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )
    return run_available_now(out, "complete").orderBy("event_type", "bar_start")


@query(
    "stream_stream_left_outer_join",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_event, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id AS view_event, user_id, ts
        FROM events WHERE event_type = 'view'
    ),
    wm AS (
        SELECT least(
            (SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) FROM p),
            (SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) FROM v)
        ) AS w
    ),
    lj AS (
        SELECT p.purchase_event, p.user_id, p.ts AS pts, v.view_event
        FROM p LEFT JOIN v
          ON v.user_id = p.user_id
         AND v.ts >= p.ts - INTERVAL 1 HOUR
         AND v.ts <= p.ts
    )
    SELECT purchase_event, user_id,
           CAST(count(view_event) AS BIGINT) AS n_views
    FROM lj
    WHERE view_event IS NOT NULL OR pts < (SELECT w FROM wm)
    GROUP BY purchase_event, user_id
    ORDER BY purchase_event
    """,
    tags=("streaming", "join"),
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases emit their
    matched views on arrival (inner path), and a purchase with NO view
    in its preceding hour emits a null row only once the watermark
    proves no matching view can still arrive — the state-eviction
    semantics that distinguish the outer join from the inner one.

    Batch-equivalence has a principled caveat the oracle states
    exactly: on a bounded replay the final watermark stops at
    min(max purchase_ts, max view_ts) − 10 min (Spark's
    multipleWatermarkPolicy=min over both sides, millisecond
    precision), so match-less purchases YOUNGER than that are withheld
    — precisely the rows a resumed incremental run would emit next
    batch. The oracle replays the same cutoff; empirically pinned at
    two scale factors (sf0.001: 198 nulls, sf0.01: 1940 — the
    one-purchase delta vs a naive global-max watermark is the
    min-of-both-sides rule)."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("view_user") == F.col("user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_event", "user_id", "view_event")
    sink = run_available_now(joined, "append")
    return (
        sink.groupBy("purchase_event", "user_id")
        .agg(F.count("view_event").alias("n_views"))
        .orderBy("purchase_event")
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY day
    ORDER BY day
    """,
    tags=("streaming", "sink"),
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch exactly-once sink roundtrip: the purchase stream
    lands in a ``batch_id=N``-partitioned parquet table through the
    transactional-directory handler (streaming/sinks.py — a replayed
    batch_id is a committed no-op), then the table is read back and
    aggregated. The oracle aggregates the source directly, so the gate
    proves the sink lost and duplicated nothing. Replay idempotence
    itself is pinned by tests/test_streaming.py."""
    from supabase_etl_spark.io.scratch import scratch_dir
    from supabase_etl_spark.streaming.sinks import (
        foreach_batch_parquet_upsert,
        run_foreach_batch,
    )

    target = scratch_dir("fb_sink_")
    s = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "value")
    )
    run_foreach_batch(s, foreach_batch_parquet_upsert(target))
    return (
        spark.read.parquet(target)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum(F.col("value"), "total_value"),
        )
        .orderBy("day")
    )


SESSION_TIMEOUT_GAP_MS = 30 * 60 * 1000


@query(
    "stream_stateful_sessions_timeout",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        > {SESSION_TIMEOUT_GAP_MS}
                     OR lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid,
               ts
        FROM flagged
    ),
    agg AS (
        SELECT user_id, sid,
               min(epoch_ms(ts)) AS a, max(epoch_ms(ts)) AS b,
               count(*) AS n
        FROM sess GROUP BY user_id, sid
    ),
    wm AS (
        SELECT epoch_ms(max(ts)) - 600000 AS w_ms FROM events
    ),
    lastsess AS (SELECT user_id, max(sid) AS msid FROM agg GROUP BY user_id)
    SELECT g.user_id,
           make_timestamp(g.a * 1000) AS session_start,
           make_timestamp(g.b * 1000) AS session_end,
           g.n AS n_events,
           CASE WHEN g.sid < l.msid THEN 'gap' ELSE 'timeout' END AS closed_by
    FROM agg g JOIN lastsess l USING (user_id)
    WHERE g.sid < l.msid
       OR g.b + {SESSION_TIMEOUT_GAP_MS} < (SELECT w_ms FROM wm)
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_sessions_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization on the arbitrary-stateful API with REAL
    event-time timeouts: the handler splits each user's arrivals on
    30-minute gaps (gap-closed sessions emit immediately) and parks
    the open tail in GroupState with
    ``setTimeoutTimestamp(last + gap)``; the engine calls back with
    ``hasTimedOut`` once the watermark passes that instant, which is
    when the session provably cannot be extended — the state-eviction
    contract the built-in `session_window` hides. The oracle replays
    both emission rules exactly: every non-final session, plus final
    sessions with last_event + gap < (max ts − 10 min) at millisecond
    precision (timeouts fire on wm > timeoutTimestamp, strict).
    Withheld open sessions are precisely what a resumed incremental
    run would close later. State is O(1) per user; the only shuffle is
    the groupBy key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = SESSION_TIMEOUT_GAP_MS

    def sessions(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start, last, n = state.get
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "start_ms": [start],
                    "end_ms": [last],
                    "n_events": [n],
                    "closed_by": ["timeout"],
                }
            )
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).tolist()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        out = []
        for t in ts_ms:
            if last is not None and t - last > gap:
                out.append((key[0], start, last, n, "gap"))
                start, n = None, 0
            if start is None:
                start = t
            last = t
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp(last + gap)
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "start_ms", "end_ms", "n_events", "closed_by"]
            )

    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    out = s.groupBy("user_id").applyInPandasWithState(
        sessions,
        outputStructType=(
            "user_id bigint, start_ms bigint, end_ms bigint, "
            "n_events bigint, closed_by string"
        ),
        stateStructType="start bigint, last bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    sink = run_available_now(out, "append")
    return sink.select(
        "user_id",
        F.timestamp_millis(F.col("start_ms")).alias("session_start"),
        F.timestamp_millis(F.col("end_ms")).alias("session_end"),
        "n_events",
        "closed_by",
    ).orderBy("user_id", "session_start")


@query(
    "stream_chained_window_aggs",
    oracle="""
    WITH quarter AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS q_start,
               event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        FROM events
        GROUP BY q_start, event_type
    ),
    wm AS (
        SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) AS w
        FROM events
    )
    SELECT time_bucket(INTERVAL '1 hour', q_start) AS hour_start,
           event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           count(*) AS n_quarters,
           max(n) AS busiest_quarter_n
    FROM quarter
    GROUP BY hour_start, event_type
    HAVING hour_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    ORDER BY hour_start, event_type
    """,
    tags=("streaming", "window"),
)
def stream_chained_window_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (legal since
    Spark 3.4 for window-on-window): a 15-minute tumbling aggregate
    feeds an hourly rollup that also reports per-hour quarter counts
    and the busiest quarter — the two-tier downsample a metrics
    pipeline runs as ONE query instead of two jobs with an
    intermediate topic. The second window groups on the FIRST window's
    struct via `F.window(F.col("window"), '1 hour')`, which Spark
    rewrites to event-time propagation so both operators share the
    single watermark. Chained stateful operators force APPEND mode
    (complete would re-emit sub-watermark rows into the downstream
    state — the correctness check Spark raises); append emits an
    hourly window once the watermark passes its end, so the oracle
    replays the nested time_bucket WITH that cutoff
    (hour_end <= max ts − 10 min, ms precision) — the withheld tail
    hour is what the next incremental run would finalize."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    quarter = s.groupBy(
        F.window("ts", "15 minutes").alias("qw"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("v"),
    )
    hourly = quarter.groupBy(
        F.window(F.col("qw"), "1 hour").alias("hw"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum(F.col("v").cast("decimal(28,6)")).cast("double").alias("total_value"),
        F.count(F.lit(1)).alias("n_quarters"),
        F.max("n").alias("busiest_quarter_n"),
    )
    out = hourly.select(
        F.col("hw.start").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
        "n_quarters",
        "busiest_quarter_n",
    )
    return run_available_now(out, "append").orderBy("hour_start", "event_type")


@query(
    "stream_pyds_replay",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           {sql_dsum("value", "total_value")},
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "pyds"),
)
def stream_pyds_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Python ``DataSourceStreamReader`` end-to-end
    (io/replay_stream_source.py): the events table replayed as a
    partitioned stream — driver plans row-range InputPartitions off
    the parquet FOOTER (metadata only), executors read their row
    slices in parallel with row-group pruning, offsets checkpoint and
    commit per microbatch. This is the scale half of the Python
    data-source API that the SimpleDataSourceStreamReader
    (io/sdk_source.py) deliberately does not cover: Simple reads on
    the driver; this source's read() never runs there. The streamed
    aggregation must equal the batch answer over the same table —
    the oracle is the plain relational agg, so the source's
    partitioning, slicing, and type bridge are all on the hash."""
    from supabase_etl_spark.io.replay_stream_source import read_replay_stream

    s = read_replay_stream(
        spark,
        f"{sf_dir}/events.parquet",
        ["event_id", "user_id", "event_type", "value"],
        rows_per_partition=1000,
    )
    agg = (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
            F.max("user_id").alias("max_user"),
        )
    )
    return run_available_now(agg, "complete").orderBy("event_type")


@query(
    "stream_pyds_sink_roundtrip",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events
    WHERE event_type IN ('purchase', 'view')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "pyds"),
)
def stream_pyds_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Python Data Source matrix, end-to-end in one pipeline:
    events replayed through the partitioned PYTHON STREAM READER
    (io/replay_stream_source.py), written through the PYTHON STREAM
    WRITER (io/jsonl_sink_source.py — per-epoch staged-file publish
    with idempotent batchId commits), then the sink's manifest-listed
    files are read back and aggregated. The oracle is the plain batch
    aggregation over the source table, so both Python halves — offset
    planning/slicing on the read, epoch publication on the write — sit
    on the value hash. Restart/replay idempotence of the sink is
    pinned separately in tests/test_python_datasource_writer.py."""
    import json as _json
    import os

    from supabase_etl_spark.io import jsonl_sink_source as J
    from supabase_etl_spark.io.replay_stream_source import read_replay_stream
    from supabase_etl_spark.io.scratch import scratch_dir

    J.register(spark)
    dest = scratch_dir("pyds_sink_")
    ckpt = scratch_dir("pyds_sink_ckpt_")
    s = read_replay_stream(
        spark,
        f"{sf_dir}/events.parquet",
        ["event_id", "event_type", "value"],
        rows_per_partition=2000,
    ).filter(F.col("event_type").isin("purchase", "view"))
    q = (
        s.writeStream.format("chunked_jsonl")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with open(os.path.join(dest, "_committed.json")) as fh:
        files = [os.path.join(dest, e["file"]) for e in _json.load(fh)["files"]]
    back = spark.read.schema("event_id bigint, event_type string, value double").json(
        files
    )
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .orderBy("event_type")
    )


@query(
    "stream_stream_full_outer_join",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    wm AS (
        SELECT least(
            (SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) FROM p),
            (SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) FROM v)
        ) AS w
    )
    SELECT * FROM (
        SELECT 'matched' AS kind,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
        FROM p JOIN v ON p.user_id = v.user_id
         AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        UNION ALL
        SELECT 'purchase_only',
               CAST(count(*) AS BIGINT), CAST(count(DISTINCT p.user_id) AS BIGINT)
        FROM p, wm
        WHERE p.ts < wm.w AND NOT EXISTS (
            SELECT 1 FROM v WHERE p.user_id = v.user_id
              AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts)
        UNION ALL
        SELECT 'view_only',
               CAST(count(*) AS BIGINT), CAST(count(DISTINCT v.user_id) AS BIGINT)
        FROM v, wm
        WHERE v.ts + INTERVAL 1 HOUR < wm.w AND NOT EXISTS (
            SELECT 1 FROM p WHERE p.user_id = v.user_id
              AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts)
    )
    ORDER BY kind
    """,
    tags=("streaming", "join"),
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both eviction clocks at
    once, completing the inner/left-outer pair: matched pairs emit on
    arrival; a match-less PURCHASE emits its null row when the
    watermark passes its own timestamp (it can only match older-or-
    equal views, so nothing future can save it); a match-less VIEW
    emits when the watermark passes ``view_ts + 1 HOUR`` — a view can
    match purchases up to an hour AFTER it, so its state must survive
    a full window longer. That asymmetry (eviction horizon = your own
    ts plus how far FORWARD the other side can still match you) is the
    whole content of outer-join state management, and the oracle
    replays both cutoffs exactly against the final watermark
    min(max(p.ts), max(v.ts)) − 10 min. Empirically pinned at two
    scale factors: sf0.001 matched/p-only/v-only = 3/198/184,
    sf0.01 = 40/1940/1936 — boundary operators are strict '<' on both
    sides (verified against '<=' twins, no tie rows at either SF)."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("view_user") == F.col("user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "full_outer",
    ).select(
        "purchase_event",
        "view_event",
        F.coalesce(F.col("user_id"), F.col("view_user")).alias("u"),
    )
    sink = run_available_now(joined, "append")
    kind = (
        F.when(
            F.col("purchase_event").isNotNull() & F.col("view_event").isNotNull(),
            F.lit("matched"),
        )
        .when(F.col("view_event").isNull(), F.lit("purchase_only"))
        .otherwise(F.lit("view_only"))
    )
    return (
        sink.groupBy(kind.alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("u").alias("n_users"),
        )
        .orderBy("kind")
    )


@query(
    "stream_stream_left_semi_join",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(p.value AS DOUBLE) AS value
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
            SELECT 1 FROM events v
            WHERE v.event_type = 'view'
              AND v.user_id = p.user_id
              AND v.ts >= p.ts - INTERVAL 1 HOUR
              AND v.ts <= p.ts
      )
    ORDER BY p.event_id
    """,
    tags=("streaming", "join"),
)
def stream_stream_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the existence-check
    flavor Spark supports alongside inner/outer: each purchase emits
    AT MOST ONCE, as soon as any view of the same user in the
    preceding hour arrives, and the view side's columns never leak
    into the output (semi-join contract). State bounding is the same
    watermark-interval argument as the inner join: a view older than
    watermark-minus-interval can never certify a future purchase and
    is evicted. The oracle is the batch EXISTS subquery — a bounded
    replay must converge to exactly it."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("view_user") == F.col("user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "left_semi",
    ).select("event_id", "user_id", F.col("value").cast("double").alias("value"))
    sink = run_available_now(joined, "append")
    return sink.orderBy("event_id")


@query(
    "stream_cdc_merge_manifest",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey <= 1500
    ),
    updates AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) * 0.9 AS o_totalprice
        FROM orders
        WHERE (o_orderkey <= 1500 AND o_orderkey % 3 = 0)
           OR (o_orderkey > 1500 AND o_orderkey <= 2000)
    ),
    merged AS (
        SELECT t.o_orderkey,
               COALESCE(u.o_totalprice, t.o_totalprice) AS o_totalprice
        FROM target t LEFT JOIN updates u USING (o_orderkey)
        UNION ALL
        SELECT u.o_orderkey, u.o_totalprice
        FROM updates u LEFT JOIN target t USING (o_orderkey)
        WHERE t.o_orderkey IS NULL
    )
    SELECT o_orderkey, o_totalprice FROM merged
    ORDER BY o_orderkey
    """,
    tags=("streaming", "sink", "lakehouse"),
)
def stream_cdc_merge_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert INTO THE LAKEHOUSE: micro-batches of order
    repricings delivered through foreachBatch, each batch MERGEd
    (copy-on-write, file-pruned) into the manifest table — the
    Delta-streaming-sink idiom rebuilt on the engine's own snapshot
    log. The update feed is split into 3 disjoint-key files read with
    maxFilesPerTrigger=1 under AvailableNow, so the merge really runs
    once per micro-batch against the then-current snapshot; disjoint
    key ranges make the final state batch-count-invariant. Readback of
    the final snapshot must hash-equal the relational replay of the
    whole upsert. Each merge's cost is touched-files + batch (COW
    pruning), and every intermediate snapshot stays time-travelable —
    the audit trail a CDC pipeline wants at 100 TB."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.io.scratch import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double")
    )
    table = scratch_dir("stream_merge_tbl_")
    M.commit(o.filter(F.col("o_orderkey") <= 1500), table, mode="overwrite")

    updates = o.filter(
        ((F.col("o_orderkey") <= 1500) & (F.col("o_orderkey") % 3 == 0))
        | ((F.col("o_orderkey") > 1500) & (F.col("o_orderkey") <= 2000))
    ).select("o_orderkey", (F.col("o_totalprice") * 0.9).alias("o_totalprice"))
    # three disjoint-key files => three micro-batches
    src = landing_zone_stream(
        [
            updates.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            for lo, hi in [(-1, 700), (700, 1400), (1400, 2000)]
        ]
    )

    def upsert(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        M.merge(batch_df.sparkSession, table, batch_df, ["o_orderkey"])

    run_foreach_batch(src, upsert)
    return M.read(spark, table).orderBy("o_orderkey")


@query(
    "stream_stream_right_outer_join",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_event, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id AS view_event, user_id, ts
        FROM events WHERE event_type = 'view'
    ),
    wm AS (
        SELECT least(
            (SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) FROM p),
            (SELECT make_timestamp((epoch_ms(max(ts)) - 600000) * 1000) FROM v)
        ) AS w
    ),
    rj AS (
        SELECT v.view_event, v.user_id, v.ts AS vts, p.purchase_event
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 1 HOUR
    )
    SELECT view_event, user_id,
           CAST(count(purchase_event) AS BIGINT) AS n_purchases
    FROM rj
    WHERE purchase_event IS NOT NULL
       OR vts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    GROUP BY view_event, user_id
    ORDER BY view_event
    """,
    tags=("streaming", "join"),
)
def stream_stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — completes the
    left/full/semi outer matrix: every view survives, purchases of the
    same user within the following hour attach when they exist, and a
    view with no purchase emits its null-padded row only once the
    watermark guarantees no future purchase can match (its match
    window [vts, vts+1h] must close under the final watermark — the
    oracle models exactly that seal, the same discipline as the
    left/full outer twins: matches always emit; null-padded rows only
    for sealed views)."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("view_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "right_outer",
    ).select("view_event", "view_user", "purchase_event")
    sink = run_available_now(joined, "append")
    return (
        sink.groupBy("view_event", F.col("view_user").alias("user_id"))
        .agg(F.count("purchase_event").alias("n_purchases"))
        .orderBy("view_event")
    )


@query(
    "stream_session_window_dynamic_gap",
    oracle=f"""
    WITH base AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'purchase'
                    THEN INTERVAL '40 minutes' ELSE INTERVAL '15 minutes'
               END AS gap
        FROM events
    ),
    ends AS (
        SELECT user_id, ts, event_id, value, ts + gap AS e FROM base
    ),
    marked AS (
        SELECT user_id, ts, value, e,
               CASE WHEN max(e) OVER wprev IS NULL
                         OR ts >= max(e) OVER wprev
                    THEN 1 ELSE 0 END AS new_s
        FROM ends
        WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    numbered AS (
        SELECT user_id, ts, value, e,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(e) AS session_end,
           count(*) AS n,
           {sql_dsum("value", "total_value")}
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("streaming",),
)
def stream_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap depends on the EVENT (a
    purchase keeps the session alive 40 minutes, anything else 15) —
    F.session_window's dynamic-gap form, the streaming feature the
    fixed-gap op can't express (checkout flows idle longer than
    browsing without splitting the session).

    The batch oracle needs the RUNNING-MAX formulation, not the lag
    gap: with per-event gaps, a long-gap event can bridge over several
    short-gap successors, so a session continues while ts < max of all
    previous window ends (exactly Spark's merge-overlapping-windows
    semantics on half-open [ts, ts+gap) windows). Same flush-sentinel
    idiom as stream_session_window: append mode only emits
    watermark-sealed sessions, so a far-future synthetic event per
    user seals every real one and is filtered out of the sink."""
    s = read_events_stream(spark, sf_dir)
    flush = s.select(
        "event_id",
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        "user_id",
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    merged = s.unionByName(flush).withWatermark("ts", "1 minute")
    # session_window's dynamic form wants CalendarIntervalType — the
    # INTERVAL literal parses as DayTimeIntervalType, so build the gap
    # via string -> interval cast
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("40 minutes")
    ).otherwise(F.lit("15 minutes")).cast("interval")
    agg = merged.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n",
        "total_value",
    )
    sink = run_available_now(out, "append")
    return sink.filter(F.col("session_start") < F.lit("2029-01-01")).orderBy(
        "user_id", "session_start"
    )


@query(
    "stream_sliding_topk_trending",
    oracle=f"""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - k * (INTERVAL '30 minutes') AS window_start,
               event_type, value
        FROM events
        CROSS JOIN (SELECT unnest(range(0, 2)) AS k)
    ),
    counts AS (
        SELECT window_start,
               window_start + INTERVAL '1 hour' AS window_end,
               event_type,
               count(*) AS n,
               {sql_dsum("value", "total_value")}
        FROM expanded
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n DESC, event_type ASC) AS rnk
        FROM counts
    )
    SELECT window_start, window_end, event_type, n, total_value,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY window_start, rnk
    """,
    tags=("streaming",),
)
def stream_sliding_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending leaderboard: top-3 event types per 1-hour window
    sliding every 30 minutes. The STREAMING half maintains the
    per-(window, type) counts — the only state that must be
    incrementally correct, bounded by watermark × type cardinality;
    the rank-and-truncate runs on the emitted snapshot, which is how
    production trending systems split the work (stateful counting in
    the stream, cheap top-k at serve time — a global streaming sort
    would be an unbounded-state anti-pattern). Each event lands in 2
    overlapping windows; the oracle replays the expansion + rank in
    batch SQL."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = s.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value")
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )
    snap = run_available_now(out, "complete")
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        snap.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .orderBy("window_start", "rnk")
    )


@query(
    "stream_bloom_returning_users",
    oracle="""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) + 3 AS cutoff FROM events
    ),
    hist AS (
        SELECT DISTINCT user_id, event_type FROM events, bounds
        WHERE CAST(ts AS DATE) < bounds.cutoff
    ),
    tagged AS (
        SELECT e.event_type,
               CASE WHEN h.user_id IS NOT NULL
                    THEN 'seen_pair' ELSE 'novel_pair' END AS cohort
        FROM events e LEFT JOIN hist h
          ON e.user_id = h.user_id AND e.event_type = h.event_type
    )
    SELECT event_type, cohort, count(*) AS n_events
    FROM tagged GROUP BY event_type, cohort
    ORDER BY event_type, cohort
    """,
    tags=("streaming", "bloom"),
)
def stream_bloom_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming membership gate against a HISTORICAL corpus: the
    first-3-days (user, action) pair set builds a 1 Mbit packed bloom bitmap
    (distributed bit_or build, broadcast once); every streamed event
    then takes 5 JVM bit tests MAP-SIDE, and only bloom survivors
    reach the exact stream-static semi-join that removes false
    positives — the shape that lets a 100 TB/day stream drop
    ~everything before any shuffle when probing a multi-billion-key
    history. Bloom misses are exact 'new' verdicts (no false
    negatives), so the batch oracle is plain membership ('has this user done
    this action before' — the personalization/first-touch gate).
    Counts per (event_type, cohort) run in complete mode."""
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.queries.llm_curation import (
        BLOOM_K_HASH,
        BLOOM_M_BITS,
        _bloom_bitmap,
        _bloom_hit_cond,
    )

    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.date_add(F.min(F.col("ts")).cast("date"), 3).alias("cutoff")
    )
    hist = (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts").cast("date") < F.col("cutoff"))
        .select("user_id", "event_type")
        .distinct()
    )
    bloom = _bloom_bitmap(
        spark,
        hist.select(
            F.concat_ws("#", F.col("user_id"), F.col("event_type")).alias("g")
        ),
    ).withColumn("k", F.lit(1))

    s = read_events_stream(spark, sf_dir).withColumn("k", F.lit(1))
    pr = s.join(F.broadcast(bloom), "k")
    pr = pr.withColumn(
        "g", F.concat_ws("#", F.col("user_id"), F.col("event_type"))
    )
    for j in range(BLOOM_K_HASH):
        pr = pr.withColumn(
            f"p{j}", F.pmod(F.xxhash64("g", F.lit(j)), F.lit(BLOOM_M_BITS))
        )
    survivors = pr.filter(_bloom_hit_cond()).select(
        "event_id", "event_type", "user_id"
    )
    returning = survivors.join(hist, ["user_id", "event_type"], "left_semi").select(
        "event_type", F.lit("seen_pair").alias("cohort")
    )
    # bloom misses are definitively novel; bloom false positives fail
    # the exact semi above and must land in 'novel' via the anti join
    new = (
        s.select("event_id", "event_type", "user_id")
        .join(hist, ["user_id", "event_type"], "left_anti")
        .select("event_type", F.lit("novel_pair").alias("cohort"))
    )
    agg = returning.unionByName(new).groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return run_available_now(agg, "complete").orderBy("event_type", "cohort")


@query(
    "stream_tumbling_distinct_users",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    ORDER BY window_start
    """,
    tags=("streaming",),
)
def stream_tumbling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per tumbling event-time window in a
    stream — COUNT(DISTINCT) is unsupported in streaming aggregations,
    so the production pattern is dedup-then-count:
    dropDuplicatesWithinWatermark on (window bucket, user) collapses
    each user's repeat events inside the window while the watermark
    bounds the dedup state, and a plain count over the survivors IS
    the distinct count. The batch oracle is the straight
    COUNT(DISTINCT) the stream must reproduce. (The approximate
    alternative — mergeable HLL sketches in state — is the
    events_sliding_hll_users operator; this is the exact path.)

    State bound at 100 TB: watermark age × active users per window,
    the same bill any streaming dedup pays; counts then aggregate with
    normal partial aggregation."""
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    keyed = s.select(
        F.date_trunc("day", F.col("ts")).alias("window_start"), "user_id", "ts"
    )
    dd = keyed.dropDuplicatesWithinWatermark(["window_start", "user_id"])
    n_users = dd.groupBy("window_start").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    out_users = run_available_now(n_users, "complete")
    # event counts ride a second bounded replay of the same source
    n_events = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("window_start"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    out_events = run_available_now(n_events, "complete")
    return out_users.join(out_events, "window_start").orderBy("window_start")


# ---------------------------------------------------------------------------
# Incremental-curation capstone (VERDICT r9 task 7): the production
# LLM-pipeline shape — NEW documents stream against the manifest-stored
# corpus with quality gate + dedup + ledger in ONE flow. The image and
# audio capstones below run the same driver with their own gates.
# ---------------------------------------------------------------------------

_LEDGER = (
    "range_id int, n_arrived bigint, n_quality_fail bigint, "
    "n_dup_within bigint, n_dup_prior bigint"
)


def _range_id() -> Column:
    """Landing batch of an arriving odd doc: doc_id % 6 of 1, 3, 5 lands
    in range 0, 1, 2."""
    return ((F.col("doc_id") % 6 - 1) / 2).cast("int").alias("range_id")


def _planted_source() -> Column:
    """Planted overlap of an arriving odd doc: id % 10 == 1 copies even
    doc id-1 (duplicate of the corpus), id % 10 == 9 odd doc id-6
    (duplicate within its landing batch), id % 10 == 5 odd doc id-2
    (duplicate across batches); NULL for every other doc."""
    d = F.col("doc_id")
    return (
        F.when(d % 10 == 1, d - 1).when(d % 10 == 9, d - 6).when(d % 10 == 5, d - 2)
    )


def _incremental_ingest(
    base: DataFrame,
    feed: DataFrame,
    gate: Callable[[DataFrame], DataFrame],
    key: list[str],
    total: tuple[str, Column],
) -> DataFrame:
    """The incremental-ingest capstones' one micro-batch driver.

    ``base`` (range_id -1) is committed to a manifest table as the
    existing corpus; ``feed``'s ranges 0, 1, 2 replay as three
    micro-batches through :func:`landing_zone_stream` and
    :func:`run_foreach_batch`. Each batch, in one foreachBatch
    transaction: ``gate`` returns doc_id, range_id, the ``key``
    columns, payload columns and q_pass; the min-doc_id survivor per
    ``key`` among passing rows; anti-join against the CURRENT
    snapshot's ``key`` columns (base + earlier batches, a pruned column
    scan); manifest append of the survivors; one ledger row (arrivals,
    quality failures, within-batch dups, prior-corpus dups). Returns the
    ledger joined with the final snapshot readback's per-range
    ``n_ingested`` and ``total = (name, column)`` sum, so the hash gate
    proves the SINK state, not the in-flight counters."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.io.scratch import scratch_dir

    spark = base.sparkSession
    table = scratch_dir("inc_ingest_tbl_")
    M.commit(base, table, mode="overwrite")
    src = landing_zone_stream([feed.filter(F.col("range_id") == r) for r in range(3)])
    cols = [c.split()[0] for c in _LEDGER.split(", ")]
    ledger: dict[str, list[int]] = {c: [] for c in cols}

    def curate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = gate(batch_df).persist()
        panel = q.agg(
            F.min("range_id").alias("r"),
            F.count(F.lit(1)).alias("arrived"),
            F.sum(F.when(~F.col("q_pass"), 1).otherwise(0)).alias("qfail"),
        ).collect()[0]
        wmin = F.min("doc_id").over(Window.partitionBy(*key))
        cand = (
            q.filter("q_pass")
            .withColumn("min_id", wmin)
            .filter(F.col("doc_id") == F.col("min_id"))
            .drop("min_id", "q_pass")
        )
        n_cand = cand.count()
        cur = M.read(batch_df.sparkSession, table).select(*key).distinct()
        ingest = cand.join(cur, key, "left_anti").persist()
        n_ingest = ingest.count()
        if n_ingest:
            M.commit(ingest, table, mode="append")
        arrived, qfail = panel["arrived"], panel["qfail"]
        row = (panel["r"], arrived, qfail, arrived - qfail - n_cand, n_cand - n_ingest)
        for c, v in zip(cols, row):
            ledger[c].append(int(v))
        q.unpersist()
        ingest.unpersist()

    run_foreach_batch(src, curate)
    name, col = total
    snap = (
        M.read(spark, table)
        .filter(F.col("range_id") >= 0)
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n_ingested"),
            F.sum(col).cast("bigint").alias(name),
        )
    )
    return (
        spark.createDataFrame(pa.table(ledger), _LEDGER)
        .join(snap, "range_id", "left")
        .select(
            *cols,
            *(
                F.coalesce(c, F.lit(0)).cast("bigint").alias(c)
                for c in ("n_ingested", name)
            ),
        )
        .orderBy("range_id")
    )


_INC_TOKENS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"


@query(
    "stream_incremental_curation_e2e",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT md5(text) AS g FROM documents WHERE doc_id % 2 = 0
    ),
    feed AS (
        SELECT o.doc_id,
               CAST((o.doc_id % 6 - 1) // 2 AS INT) AS range_id,
               COALESCE(b.text, o.text) AS text
        FROM documents o
        LEFT JOIN documents b ON b.doc_id = CASE
            WHEN o.doc_id % 10 = 1 THEN o.doc_id - 1
            WHEN o.doc_id % 10 = 9 THEN o.doc_id - 6
            WHEN o.doc_id % 10 = 5 THEN o.doc_id - 2
            ELSE NULL END
        WHERE o.doc_id % 2 = 1
    ),
    tok AS (
        SELECT doc_id, range_id, md5(text) AS g, {_INC_TOKENS} AS t
        FROM feed
    ),
    qual AS (
        SELECT doc_id, range_id, g, len(t) AS n_words,
               (len(t) BETWEEN 50 AND 100000)
               AND (CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                    / greatest(len(t), 1) BETWEEN 3.0 AND 10.0)
               AND (CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                    / greatest(len(t), 1) >= 0.8) AS q_pass
        FROM tok
    ),
    cand AS (
        SELECT *, row_number() OVER (PARTITION BY g, range_id
                                     ORDER BY doc_id) AS rin
        FROM qual WHERE q_pass
    ),
    ranked AS (
        SELECT c.doc_id, c.range_id, c.g, c.n_words,
               row_number() OVER (PARTITION BY c.g
                                  ORDER BY c.range_id, c.doc_id) AS rg,
               (b.g IS NOT NULL) AS in_base
        FROM cand c LEFT JOIN base b USING (g)
        WHERE c.rin = 1
    ),
    ing AS (
        SELECT range_id, count(*) AS n_ingested,
               CAST(sum(n_words) AS BIGINT) AS tokens_ingested
        FROM ranked WHERE rg = 1 AND NOT in_base
        GROUP BY range_id
    ),
    dupw AS (
        SELECT range_id, count(*) AS n_dup_within
        FROM cand WHERE rin > 1 GROUP BY range_id
    ),
    dupp AS (
        SELECT range_id, count(*) AS n_dup_prior
        FROM ranked WHERE in_base OR rg > 1 GROUP BY range_id
    ),
    led AS (
        SELECT range_id, count(*) AS n_arrived,
               CAST(sum(CASE WHEN q_pass THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_quality_fail
        FROM qual GROUP BY range_id
    )
    SELECT l.range_id, l.n_arrived, l.n_quality_fail,
           COALESCE(w.n_dup_within, 0) AS n_dup_within,
           COALESCE(p.n_dup_prior, 0) AS n_dup_prior,
           COALESCE(i.n_ingested, 0) AS n_ingested,
           COALESCE(i.tokens_ingested, 0) AS tokens_ingested
    FROM led l
    LEFT JOIN dupw w USING (range_id)
    LEFT JOIN dupp p USING (range_id)
    LEFT JOIN ing i USING (range_id)
    ORDER BY l.range_id
    """,
    tags=("streaming", "llm", "curation", "dedup", "lakehouse", "pipeline"),
)
def stream_incremental_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL-CURATION CAPSTONE: the flow a production LLM data
    pipeline runs when new crawl shards land — composed entirely of
    operators the registry already proves one at a time
    (dedup_incremental_ingest's batch-vs-corpus anti-join, the Gopher
    quality gate of corpus_prepare_end_to_end, manifest commit/read
    snapshots, stream_foreach_batch_sink's exactly-once micro-batch
    discipline).

    Fixture: the even-doc_id half of ``documents`` is the EXISTING
    corpus, committed to a manifest table with its content digests.
    The odd half arrives as a 3-file landing zone read with
    ``maxFilesPerTrigger=1`` under AvailableNow — three real
    micro-batches, processed in pinned mtime order. Planted overlap
    (all oracle-replayable joins against the same parquet): docs with
    id % 10 == 1 carry the text of the even doc id-1 (duplicate of the
    corpus), id % 10 == 9 the text of odd doc id-6 (duplicate within
    the same landing batch), id % 10 == 5 the text of odd doc id-2
    (duplicate across batches).

    Each micro-batch, in one foreachBatch transaction: (1) Gopher core
    quality gate; (2) batch-internal exact dedup (min-doc_id survivor
    per digest); (3) anti-join against the CURRENT corpus snapshot's
    digests (base + everything ingested by earlier batches); (4)
    manifest append of the survivors; (5) a ledger row (arrivals,
    quality failures, within-batch dups, prior-corpus dups). The
    returned frame joins the ledger with the final snapshot readback —
    so the hash gate proves the SINK state, not just the counters.

    Batch-equivalence: files are disjoint doc_id classes and mtime
    order pins batch order, so first-wins dedup equals the oracle's
    rank-by-(range, doc_id) replay; every count is deterministic.

    100 TB posture: the corpus is never rescanned per batch — the
    blocking set is the manifest's digest column (a pruned column
    scan); each batch's work is batch-sized (gate + digest groupBy +
    one anti-join); the ledger is O(batches). Commit cost is
    append-only new files; snapshots stay time-travelable, so a bad
    crawl shard rolls back by version."""
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        F.size(tokens(F.col("text"))).alias("n_words"),
        F.lit(-1).cast("int").alias("range_id"),
    )
    tgt = d.select(F.col("doc_id").alias("tgt_id"), F.col("text").alias("tgt_text"))
    feed = (
        d.filter(F.col("doc_id") % 2 == 1)
        .withColumn("tgt_id", _planted_source())
        .join(tgt, "tgt_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("tgt_text", "text").alias("text"),
            _range_id(),
        )
    )

    def gate(batch_df: DataFrame) -> DataFrame:
        t = F.array_remove(F.split(F.col("text"), r"\s+"), "")
        n = F.greatest(F.size(t), F.lit(1))
        mean_wl = (
            F.aggregate(
                F.transform(t, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
            ).cast("double")
            / n
        )
        alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n
        return batch_df.select(
            "doc_id",
            "source",
            "range_id",
            F.md5("text").alias("digest"),
            F.size(t).alias("n_words"),
            (
                F.size(t).between(50, 100_000)
                & mean_wl.between(3.0, 10.0)
                & (alpha >= 0.8)
            ).alias("q_pass"),
        )

    return _incremental_ingest(
        base, feed, gate, ["digest"], ("tokens_ingested", F.col("n_words"))
    )


# ---------------------------------------------------------------------------
# Multimodal incremental-ingest capstone (VERDICT r10 task 7): the
# stream_incremental_curation_e2e flow with the CODEC dedup stages —
# new images land against the manifest-stored image corpus.
# ---------------------------------------------------------------------------

IMG_INC_DOCS = 256  # fixture cap, mirrors llm_multimodal.IMG_DOCS
IMG_Q_MIN_PX = 100  # min-resolution quality gate (w*h pixels)


@query(
    "multimodal_incremental_ingest",
    oracle=f"""
    WITH inc AS (
        SELECT doc_id,
               CAST((doc_id % 6 - 1) // 2 AS INT) AS range_id,
               CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
                    WHEN doc_id % 10 = 9 THEN doc_id - 6
                    WHEN doc_id % 10 = 5 THEN doc_id - 2
                    ELSE doc_id END AS img_id
        FROM documents WHERE doc_id % 2 = 1 AND doc_id < {IMG_INC_DOCS}
    ),
    ids AS (
        SELECT DISTINCT img_id AS id FROM inc
        UNION
        SELECT doc_id FROM documents
        WHERE doc_id % 2 = 0 AND doc_id < {IMG_INC_DOCS}
    ),
    imgs AS (
        SELECT id, id % 251 AS seed,
               CAST(8 + id % 9 AS INT) AS w,
               CAST(8 + (id * 5 + 3) % 9 AS INT) AS h
        FROM ids
    ),
    px AS (
        SELECT m.id, m.w, m.h, x.i AS xi, y.j AS yj,
               (m.seed + 3 * x.i + 5 * y.j) % 256
               + (m.seed + 3 * x.i + 5 * y.j + 7) % 256
               + (m.seed + 3 * x.i + 5 * y.j + 14) % 256 AS v
        FROM imgs m, range(0, 17) AS x(i), range(0, 17) AS y(j)
        WHERE x.i < m.w AND y.j < m.h
    ),
    blocks AS (
        SELECT id, (yj * 8) // h AS bi, (xi * 8) // w AS bj,
               SUM(v) AS bs, COUNT(*) AS bc
        FROM px GROUP BY 1, 2, 3
    ),
    tot AS (SELECT id, SUM(v) AS ts, COUNT(*) AS tc FROM px GROUP BY id),
    sig AS (
        SELECT b.id,
               string_agg(CASE WHEN b.bs * t.tc > t.ts * b.bc
                               THEN '1' ELSE '0' END,
                          '' ORDER BY b.bi, b.bj) AS ahash
        FROM blocks b JOIN tot t USING (id) GROUP BY b.id
    ),
    meta AS (SELECT i.id, s.ahash, i.w, i.h FROM imgs i JOIN sig s USING (id)),
    base AS (
        SELECT DISTINCT m.ahash, m.w, m.h
        FROM meta m JOIN documents d ON m.id = d.doc_id
        WHERE d.doc_id % 2 = 0 AND d.doc_id < {IMG_INC_DOCS}
    ),
    arr AS (
        SELECT n.doc_id, n.range_id, m.ahash, m.w, m.h,
               (m.w * m.h >= {IMG_Q_MIN_PX}) AS q_pass
        FROM inc n JOIN meta m ON n.img_id = m.id
    ),
    cand AS (
        SELECT *, row_number() OVER (PARTITION BY ahash, w, h, range_id
                                     ORDER BY doc_id) AS rin
        FROM arr WHERE q_pass
    ),
    ranked AS (
        SELECT c.doc_id, c.range_id, c.ahash, c.w, c.h,
               row_number() OVER (PARTITION BY c.ahash, c.w, c.h
                                  ORDER BY c.range_id, c.doc_id) AS rg,
               (b.ahash IS NOT NULL) AS in_base
        FROM cand c
        LEFT JOIN base b ON c.ahash = b.ahash AND c.w = b.w AND c.h = b.h
        WHERE c.rin = 1
    ),
    ing AS (
        SELECT range_id, count(*) AS n_ingested,
               CAST(sum(w * h) AS BIGINT) AS pixels_ingested
        FROM ranked WHERE rg = 1 AND NOT in_base
        GROUP BY range_id
    ),
    dupw AS (
        SELECT range_id, count(*) AS n_dup_within
        FROM cand WHERE rin > 1 GROUP BY range_id
    ),
    dupp AS (
        SELECT range_id, count(*) AS n_dup_prior
        FROM ranked WHERE in_base OR rg > 1 GROUP BY range_id
    ),
    led AS (
        SELECT range_id, count(*) AS n_arrived,
               CAST(sum(CASE WHEN q_pass THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_quality_fail
        FROM arr GROUP BY range_id
    )
    SELECT l.range_id, l.n_arrived, l.n_quality_fail,
           COALESCE(w.n_dup_within, 0) AS n_dup_within,
           COALESCE(p.n_dup_prior, 0) AS n_dup_prior,
           COALESCE(i.n_ingested, 0) AS n_ingested,
           COALESCE(i.pixels_ingested, 0) AS pixels_ingested
    FROM led l
    LEFT JOIN dupw w USING (range_id)
    LEFT JOIN dupp p USING (range_id)
    LEFT JOIN ing i USING (range_id)
    ORDER BY l.range_id
    """,
    tags=("streaming", "llm", "multimodal", "dedup", "lakehouse", "pipeline"),
)
def multimodal_incremental_ingest(
    spark: SparkSession, sf_dir: str, cap: int = IMG_INC_DOCS
) -> DataFrame:
    """MULTIMODAL INCREMENTAL-INGEST CAPSTONE: the
    stream_incremental_curation_e2e flow with the CODEC dedup stages —
    what a production media pipeline runs when new image shards land.
    Composed entirely of operators the registry proves one at a time:
    generate_images / decode_gray_with_ahash (the one-decode-pass
    signature stage of multimodal_dedup_pipeline_e2e), the
    batch-vs-corpus anti-join of dedup_incremental_ingest, manifest
    commit/read snapshots, and foreachBatch micro-batch transactions.

    Fixture: even doc_ids < {IMG_INC_DOCS} are the EXISTING image
    corpus — real PNG/BMP/PPM bytes generated, decoded, and committed
    to a manifest table as perceptual signatures (ahash, w, h). Odd
    doc_ids arrive as a 3-file landing zone (``maxFilesPerTrigger=1``
    under AvailableNow — three real micro-batches in pinned mtime
    order). Planted overlap at the PIXEL level (each arriving doc's
    image is synthesized from ``img_id``): id % 10 == 1 carries the
    image of even doc id-1 (duplicate of the corpus), id % 10 == 9
    that of odd doc id-6 (duplicate within the same landing batch),
    id % 10 == 5 that of odd doc id-2 (duplicate across batches).

    Each micro-batch, in one foreachBatch transaction: (1) decode ONCE
    — signatures for the batch's distinct images only; (2)
    min-resolution quality gate (w*h >= {IMG_Q_MIN_PX}); (3)
    batch-internal perceptual dedup (min-doc_id survivor per
    (ahash, w, h)); (4) anti-join against the CURRENT corpus
    snapshot's signature index; (5) manifest append of the survivors;
    (6) a ledger row. The returned frame joins the ledger with the
    final snapshot readback — the hash gate proves the SINK state.

    The DuckDB oracle replays the pixel synthesis and block-pooled
    aHash in SQL (the multimodal_dedup_pipeline_e2e replay) and the
    first-wins ingest as rank-by-(range, doc_id) — batch order is
    pinned, files are disjoint ranges, so stream and replay agree
    exactly.

    100 TB posture: payloads shrink ~1000x at the decode boundary
    (signatures, never pixels, cross the shuffle); the corpus is never
    rescanned per batch — the blocking set is the manifest's signature
    columns (a pruned column scan); per-batch work is batch-sized;
    the ledger is O(batches); commits are append-only versioned
    snapshots, so a bad shard rolls back by version.

    ``cap`` bounds the doc_ids in play; the registry and the oracle use
    IMG_INC_DOCS, and scripts/scale_curve.py raises it."""
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.operators import multimodal as M

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < cap)

    def signatures(ids_df: DataFrame) -> DataFrame:
        """distinct img_id -> (img_id, w, h, ahash): real container
        bytes, decoded once, block-pooled average hash."""
        imgs = M.generate_images(ids_df, id_col="img_id")
        return M.decode_gray_with_ahash(imgs).select(
            F.regexp_replace("uri", "^doc://", "").cast("bigint").alias("img_id"),
            "w",
            "h",
            "ahash",
        )

    base = signatures(
        d.filter(F.col("doc_id") % 2 == 0).select(F.col("doc_id").alias("img_id"))
    ).select(
        F.col("img_id").alias("doc_id"),
        "ahash",
        "w",
        "h",
        F.lit(-1).cast("int").alias("range_id"),
    )
    feed = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        _range_id(),
        _planted_source().otherwise(F.col("doc_id")).alias("img_id"),
    )

    def gate(batch_df: DataFrame) -> DataFrame:
        # decode once per distinct image in THIS batch; the driver pins
        # the gated frame, so the Arrow decode pass never re-executes
        return batch_df.join(
            signatures(batch_df.select("img_id").distinct()), "img_id"
        ).select(
            "doc_id",
            "range_id",
            "ahash",
            "w",
            "h",
            ((F.col("w") * F.col("h")) >= IMG_Q_MIN_PX).alias("q_pass"),
        )

    return _incremental_ingest(
        base,
        feed,
        gate,
        ["ahash", "w", "h"],
        ("pixels_ingested", F.col("w") * F.col("h")),
    )


AUD_INC_DOCS = 512  # fixture cap for the audio ingest capstone
AUD_Q_MIN_SAMPLES = 500  # min-duration quality gate (samples)


@query(
    "multimodal_audio_incremental_ingest",
    oracle=f"""
    WITH inc AS (
        SELECT doc_id,
               CAST((doc_id % 6 - 1) // 2 AS INT) AS range_id,
               CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
                    WHEN doc_id % 10 = 9 THEN doc_id - 6
                    WHEN doc_id % 10 = 5 THEN doc_id - 2
                    ELSE doc_id END AS aud_id
        FROM documents WHERE doc_id % 2 = 1 AND doc_id < {AUD_INC_DOCS}
    ),
    ids AS (
        SELECT DISTINCT aud_id AS id FROM inc
        UNION
        SELECT doc_id FROM documents
        WHERE doc_id % 2 = 0 AND doc_id < {AUD_INC_DOCS}
    ),
    clips AS (
        SELECT id, id % 251 AS seed, 400 + id % 201 AS n FROM ids
    ),
    sig AS (
        SELECT c.id, c.n, (t.i * 16) // c.n AS bi,
               abs((7 * c.seed + 11 * t.i) % 4001 - 2000) AS e
        FROM clips c, range(0, 601) AS t(i)
        WHERE t.i < c.n
    ),
    blocks AS (
        SELECT id, bi, SUM(e) AS bs, COUNT(*) AS bc FROM sig GROUP BY 1, 2
    ),
    tot AS (SELECT id, SUM(e) AS ts, COUNT(*) AS tc FROM sig GROUP BY id),
    fps AS (
        SELECT b.id,
               string_agg(CASE WHEN b.bs * t.tc > t.ts * b.bc
                               THEN '1' ELSE '0' END,
                          '' ORDER BY b.bi) AS fingerprint
        FROM blocks b JOIN tot t USING (id) GROUP BY b.id
    ),
    meta AS (
        SELECT c.id, f.fingerprint, c.n AS n_samples
        FROM clips c JOIN fps f USING (id)
    ),
    base AS (
        SELECT DISTINCT m.fingerprint, m.n_samples
        FROM meta m JOIN documents d ON m.id = d.doc_id
        WHERE d.doc_id % 2 = 0 AND d.doc_id < {AUD_INC_DOCS}
    ),
    arr AS (
        SELECT n.doc_id, n.range_id, m.fingerprint, m.n_samples,
               (m.n_samples >= {AUD_Q_MIN_SAMPLES}) AS q_pass
        FROM inc n JOIN meta m ON n.aud_id = m.id
    ),
    cand AS (
        SELECT *, row_number() OVER (PARTITION BY fingerprint, n_samples,
                                     range_id ORDER BY doc_id) AS rin
        FROM arr WHERE q_pass
    ),
    ranked AS (
        SELECT c.doc_id, c.range_id, c.fingerprint, c.n_samples,
               row_number() OVER (PARTITION BY c.fingerprint, c.n_samples
                                  ORDER BY c.range_id, c.doc_id) AS rg,
               (b.fingerprint IS NOT NULL) AS in_base
        FROM cand c
        LEFT JOIN base b ON c.fingerprint = b.fingerprint
                        AND c.n_samples = b.n_samples
        WHERE c.rin = 1
    ),
    ing AS (
        SELECT range_id, count(*) AS n_ingested,
               CAST(sum(n_samples) AS BIGINT) AS samples_ingested
        FROM ranked WHERE rg = 1 AND NOT in_base
        GROUP BY range_id
    ),
    dupw AS (
        SELECT range_id, count(*) AS n_dup_within
        FROM cand WHERE rin > 1 GROUP BY range_id
    ),
    dupp AS (
        SELECT range_id, count(*) AS n_dup_prior
        FROM ranked WHERE in_base OR rg > 1 GROUP BY range_id
    ),
    led AS (
        SELECT range_id, count(*) AS n_arrived,
               CAST(sum(CASE WHEN q_pass THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_quality_fail
        FROM arr GROUP BY range_id
    )
    SELECT l.range_id, l.n_arrived, l.n_quality_fail,
           COALESCE(w.n_dup_within, 0) AS n_dup_within,
           COALESCE(p.n_dup_prior, 0) AS n_dup_prior,
           COALESCE(i.n_ingested, 0) AS n_ingested,
           COALESCE(i.samples_ingested, 0) AS samples_ingested
    FROM led l
    LEFT JOIN dupw w USING (range_id)
    LEFT JOIN dupp p USING (range_id)
    LEFT JOIN ing i USING (range_id)
    ORDER BY l.range_id
    """,
    tags=("streaming", "llm", "multimodal", "audio", "dedup", "lakehouse",
          "pipeline"),
)
def multimodal_audio_incremental_ingest(
    spark: SparkSession, sf_dir: str, cap: int = AUD_INC_DOCS
) -> DataFrame:
    """AUDIO incremental-ingest capstone — the second modality of
    multimodal_incremental_ingest (VERDICT r10 task 7 asked for
    "images/audio"): new audio shards land as micro-batches against
    the manifest-stored clip corpus. Stages are the registry's own
    operators: generate_audio (real RIFF/WAVE containers),
    audio_energy_fingerprint (decode ONCE → 16-block energy-envelope
    signature, the multimodal_audio_fingerprint_dedup kernel),
    min-duration gate (n_samples >= {AUD_Q_MIN_SAMPLES}), batch-internal
    min-doc_id dedup on (fingerprint, n_samples), anti-join against the
    manifest snapshot's signature index, manifest append, ledger +
    final-snapshot readback. Planted overlap classes and batch
    structure mirror the image capstone (id%10 == 1/9/5 → corpus /
    within-batch / cross-batch duplicates); the DuckDB oracle replays
    PCM synthesis + identical integer pooling and first-wins ranking.

    100 TB posture: identical to the image capstone — signatures,
    never samples, cross the shuffle; blocking set is a pruned column
    scan of the manifest; per-batch work is batch-sized.

    ``cap`` bounds the doc_ids in play; the registry and the oracle use
    AUD_INC_DOCS, and scripts/scale_curve.py raises it."""
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.operators import multimodal as M

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < cap)

    def signatures(ids_df: DataFrame) -> DataFrame:
        clips = M.generate_audio(ids_df, id_col="aud_id")
        return M.audio_energy_fingerprint(clips).select(
            F.regexp_replace("uri", r"^doc://|\.wav$", "")
            .cast("bigint")
            .alias("aud_id"),
            "n_samples",
            "fingerprint",
        )

    base = signatures(
        d.filter(F.col("doc_id") % 2 == 0).select(F.col("doc_id").alias("aud_id"))
    ).select(
        F.col("aud_id").alias("doc_id"),
        "fingerprint",
        "n_samples",
        F.lit(-1).cast("int").alias("range_id"),
    )
    feed = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        _range_id(),
        _planted_source().otherwise(F.col("doc_id")).alias("aud_id"),
    )

    def gate(batch_df: DataFrame) -> DataFrame:
        return batch_df.join(
            signatures(batch_df.select("aud_id").distinct()), "aud_id"
        ).select(
            "doc_id",
            "range_id",
            "fingerprint",
            "n_samples",
            (F.col("n_samples") >= AUD_Q_MIN_SAMPLES).alias("q_pass"),
        )

    return _incremental_ingest(
        base,
        feed,
        gate,
        ["fingerprint", "n_samples"],
        ("samples_ingested", F.col("n_samples")),
    )


@query(
    "stream_watermark_late_drop_ledger",
    oracle="""
    WITH base AS (SELECT event_id, epoch_us(ts) AS us FROM events),
    b AS (SELECT min(us) AS lo, max(us) AS hi FROM base),
    sched AS (
        SELECT us,
               CASE WHEN us < lo + (hi - lo) // 3
                    THEN CASE WHEN event_id % 7 = 0 THEN 2 ELSE 0 END
                    WHEN us < lo + 2 * ((hi - lo) // 3) THEN 1
                    ELSE 2 END AS arrival
        FROM base, b
    ),
    wm AS (
        -- the watermark in effect DURING micro-batch 1: event-time max
        -- of batch 0 floored to ms, minus the 31-minute delay. Batches
        -- 0 and 1 filter against the initial watermark (epoch 0) and
        -- the two-watermark rule makes batch 2 the only dropping batch.
        SELECT max(us) // 1000 - 31 * 60 * 1000 AS late_wm_ms
        FROM sched WHERE arrival = 0
    ),
    cls AS (
        SELECT (us // 3600000000) * 3600000000 AS wstart_us,
               arrival = 2
               AND ((us // 3600000000) + 1) * 3600000 <= late_wm_ms
                   AS dropped
        FROM sched, wm
    )
    SELECT 'window' AS part, make_timestamp(wstart_us) AS window_start,
           count(*) AS n
    FROM cls WHERE NOT dropped GROUP BY 2
    UNION ALL
    -- numRowsDroppedByWatermark counts the state operator's INPUT rows,
    -- which are per-window partial-aggregate rows (one per window per
    -- micro-batch under the single-file-per-batch fixture), so the
    -- replay counts DISTINCT dropped windows, not raw late events.
    SELECT 'dropped_state_rows', NULL, count(DISTINCT wstart_us)
    FROM cls WHERE dropped
    UNION ALL
    SELECT 'late_events', NULL, count(*) FROM cls WHERE dropped
    UNION ALL
    SELECT 'arrived', NULL, count(*) FROM cls
    ORDER BY part, window_start
    """,
    tags=("streaming", "watermark", "ledger"),
)
def stream_watermark_late_drop_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA-DROP LEDGER (VERDICT r11 task 3): watermark drop
    accounting reconciled, number for number, against a deterministic
    batch replay of Spark's own two-watermark semantics.

    Fixture: events replayed as a 3-file landing zone in arrival order
    (``maxFilesPerTrigger=1`` + pinned mtimes = 3 real micro-batches).
    Batches are the ts-tertiles of the table EXCEPT that tertile-1 rows
    with ``event_id % 7 == 0`` are held back and arrive in batch 2 —
    stragglers whose event time is up to ~10 days older than the
    then-current watermark.

    The aggregation (1-hour tumbling count, 31-minute watermark delay,
    update mode) drops a late row iff its window END (ms) <= the
    watermark in effect during the PREVIOUS batch (Spark's
    late-events/eviction watermark split, SPARK-24634; equality DROPS —
    both facts probed empirically on this engine version, so the replay
    encodes <= against batch N-2's event-time max, not the current
    watermark). Under the 3-batch schedule only batch 2 can drop, and
    its late watermark is max(ts of batch 0) floored to ms minus the
    delay — exact integer arithmetic DuckDB replays verbatim.

    The returned ledger carries four reconciled facts: final
    per-window counts read back from the SINK (max-merge over update
    emissions — counts are monotone per window), total
    ``numRowsDroppedByWatermark`` summed from the query's OWN progress
    metrics, the raw late-event count implied by the sink (arrived
    minus survived), and total ``numInputRows`` from the same metrics.
    ``numRowsDroppedByWatermark`` is measured at the state operator,
    whose input under this single-file-per-batch fixture is ONE
    partial-aggregate row per window per micro-batch — so the metric
    equals the number of distinct dropped WINDOWS (verified: 236 vs
    472 raw late events at sf0.01), and the oracle replays exactly
    that alongside the raw count. The hash gate fails if the engine's
    metric accounting ever disagrees with the declared drop semantics
    (arrived == survived + late_events by construction).

    100 TB posture: the ledger is O(windows + batches), the stream
    state is bounded by the watermark (that is the point of the
    operator), and the replay schedule is one pinned scan + three
    column-pruned file writes; nothing corpus-sized crosses a shuffle
    except the windowed count itself, which partial-aggregates
    map-side.

    Reference: the cron reference re-runs the whole extract daily
    (etl.yml:4-6) and has no late-data story; this is the Structured
    Streaming contract a 100 TB ingest needs instead."""
    import shutil
    import tempfile
    import uuid

    from supabase_etl_spark.io.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    ev = pin(ev)  # one source scan feeds bounds + 3 writes
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    )
    third = F.expr("(hi - lo) div 3")  # integer division, = DuckDB's //
    sched = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "ts",
        F.when(
            us < F.col("lo") + third,
            F.when(F.col("event_id") % 7 == 0, F.lit(2)).otherwise(F.lit(0)),
        )
        .when(us < F.col("lo") + 2 * third, F.lit(1))
        .otherwise(F.lit(2))
        .alias("arrival"),
    )
    src = landing_zone_stream(
        [sched.filter(F.col("arrival") == r).select("event_id", "ts") for r in range(3)]
    )
    agg = (
        src.withWatermark("ts", "31 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    name = "wmled_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    arrived = 0
    for p in q.recentProgress:
        arrived += p["numInputRows"]
        for so in p["stateOperators"]:
            dropped += so.get("numRowsDroppedByWatermark", 0)
    shutil.rmtree(ckpt, ignore_errors=True)

    win = (
        spark.table(name)
        .groupBy("window_start")
        .agg(F.max("n").alias("n"))
        .select(F.lit("window").alias("part"), "window_start", "n")
    )
    survived = win.agg(F.sum("n")).first()[0] or 0
    summary = spark.createDataFrame(
        pa.table(
            {
                "part": ["dropped_state_rows", "late_events", "arrived"],
                "window_start": [None] * 3,
                "n": [dropped, arrived - survived, arrived],
            }
        ),
        "part string, window_start timestamp, n bigint",
    )
    return win.unionByName(summary).orderBy("part", "window_start")
