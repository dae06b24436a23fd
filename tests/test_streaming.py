"""Streaming semantics the single-file replay can't show:

* incremental arrival — three chunk files fed through one checkpoint
  across three AvailableNow runs; union of emitted appends equals the
  batch answer;
* watermark late-data drop — an event older than the advanced watermark
  never reaches the sink.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _write_chunk(spark, path, rows):
    df = spark.createDataFrame(
        [(i, ts, uid, et, v) for (i, ts, uid, et, v) in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _run_once(spark, src_dir, ckpt, out_dir, agg_builder):
    """One AvailableNow run into a checkpointed parquet sink (the memory
    sink can't recover a checkpoint across restarts; the file sink can).
    Returns ALL rows emitted so far (cumulative append output)."""
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .format("parquet")
        .load(src_dir)
    )
    q = (
        agg_builder(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).collect()


TS = dt.datetime(2024, 1, 1, 10, 0, 0)


def _t(minutes):
    return TS + dt.timedelta(minutes=minutes)


@pytest.fixture()
def tumbling_count():
    def build(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "n")
        )

    return build


def test_incremental_arrival_equals_batch(spark, tmp_path, tumbling_count):
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    # chunk 1: two events in the 10:00 window
    _write_chunk(spark, src, [(1, _t(0), 1, "a", 1.0), (2, _t(30), 1, "a", 1.0)])
    _run_once(spark, src, ckpt, out, tumbling_count)
    # chunk 2: event at 12:00 -> watermark 11:50 seals the 10:00 window
    _write_chunk(spark, src, [(3, _t(120), 1, "a", 1.0)])
    _run_once(spark, src, ckpt, out, tumbling_count)
    # chunk 3: event at 14:00 -> seals the 12:00 window
    _write_chunk(spark, src, [(4, _t(240), 1, "a", 1.0)])
    emitted = _run_once(spark, src, ckpt, out, tumbling_count)

    got = {(r["ws"], r["n"]) for r in emitted}
    assert (TS, 2) in got, f"10:00 window missing/wrong: {got}"
    assert (_t(120), 1) in got, f"12:00 window missing/wrong: {got}"
    # each sealed window emitted exactly once across the three runs
    assert len([r for r in emitted if r["ws"] == TS]) == 1


def test_watermark_drops_late_event(spark, tmp_path, tumbling_count):
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    # watermark advances to 11:50 after this chunk
    _write_chunk(spark, src, [(1, _t(0), 1, "a", 1.0), (2, _t(120), 1, "a", 1.0)])
    _run_once(spark, src, ckpt, out, tumbling_count)
    # 10:15 is behind the 11:50 watermark -> dropped; 14:00 seals 12:00
    _write_chunk(spark, src, [(3, _t(15), 1, "a", 1.0), (4, _t(240), 1, "a", 1.0)])
    emitted = _run_once(spark, src, ckpt, out, tumbling_count)

    by_window = {r["ws"]: r["n"] for r in emitted}
    assert by_window.get(TS) == 1, f"late event leaked into sealed window: {by_window}"
    assert by_window.get(_t(120)) == 1


def test_transform_with_state_processor_logic():
    """The StatefulProcessor behind the transformWithStateInPandas path
    of streaming/stateful.py, driven through a fake state handle — the
    processor's accumulation logic is plain Python over pandas batches,
    so it is fully testable without the protobuf runtime the real API
    needs. State must accumulate across handleInputRows calls and the
    checksum must equal the batch formula."""
    import pandas as pd

    from supabase_etl_spark.queries.streaming import CHECKSUM_K, CHECKSUM_P
    from supabase_etl_spark.streaming.stateful import make_counter_processor

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    proc = make_counter_processor(CHECKSUM_P, CHECKSUM_K)
    h = FakeHandle()
    proc.init(h)
    out1 = list(
        proc.handleInputRows((7,), iter([pd.DataFrame({"event_id": [1, 2, 3]})]), None)
    )
    out2 = list(
        proc.handleInputRows((7,), iter([pd.DataFrame({"event_id": [10]})]), None)
    )
    proc.close()
    assert out1[0]["n_events"][0] == 3
    assert out2[0]["n_events"][0] == 4  # state carried across batches
    want_ck = sum((e % CHECKSUM_P) * CHECKSUM_K for e in [1, 2, 3, 10]) % CHECKSUM_P
    assert out2[0]["checksum"][0] == want_ck


def test_stateful_counter_dispatch_matches_batch(spark):
    """End-to-end through the dispatching operator (on this runtime
    protobuf is absent, so it exercises the applyInPandasWithState
    fallback; on a protobuf-enabled cluster the same test covers the
    transformWithStateInPandas path): final per-user state equals the
    batch recompute."""
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.queries.streaming import (
        CHECKSUM_K,
        CHECKSUM_P,
        stream_stateful_counter,
    )
    from supabase_etl_spark.streaming.stateful import transform_with_state_available

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["n_events"], r["checksum"])
        for r in stream_stateful_counter(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    from pyspark.sql import functions as F

    want = {
        (r["user_id"], r["n"], r["ck"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum((F.col("event_id") % CHECKSUM_P) * CHECKSUM_K) % CHECKSUM_P
            ).cast("bigint").alias("ck"),
        )
        .collect()
    }
    assert got == want
    # the dispatcher probe itself must be consistent with the runtime
    try:
        import google.protobuf  # noqa: F401

        assert transform_with_state_available()
    except ImportError:
        assert not transform_with_state_available()


def test_stream_foreachbatch_rest_upsert(spark, postgrest_mock, tmp_path):
    """Streaming → reference sink: an AvailableNow events stream
    delivered through foreachBatch into the chunked PostgREST upsert
    (ref L1). This is the reference's daily load recast as incremental:
    each micro-batch upserts idempotently, the checkpoint guarantees a
    file is never re-delivered across runs."""
    from supabase_etl_spark.io.rest_sink import RestSinkConfig, upsert_rest
    from supabase_etl_spark.streaming.source import read_events_stream

    srv, store = postgrest_mock
    cfg = RestSinkConfig(
        base_url=f"http://127.0.0.1:{srv.server_address[1]}/rest/v1",
        table="events_inc",
        chunk_size=300,
    )

    def deliver(batch_df, batch_id):
        upsert_rest(
            batch_df.select("event_id", "user_id", "event_type", "value"), cfg
        )

    s = read_events_stream(spark, "/root/testdata/sf0.001").select(
        "event_id", "user_id", "event_type", "value"
    )
    q = (
        s.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from supabase_etl_spark.io.readers import load_table

    n_events = load_table(spark, "/root/testdata/sf0.001", "events").count()
    delivered = sum(len(r["rows"]) for r in store["requests"])
    assert delivered == n_events
    assert all(len(r["rows"]) <= 300 for r in store["requests"])
    # second run, same checkpoint: nothing new to deliver
    before = len(store["requests"])
    q2 = (
        s.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert len(store["requests"]) == before


def test_stateful_counter_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState with a PERSISTENT checkpoint: run 1 counts
    the first chunk; run 2 (new query object, same checkpoint) receives
    only the second chunk but its emitted counts CONTINUE from the
    recovered per-user state — proof the state store round-trips
    through checkpoint recovery, not just within one run."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    base = dt.datetime(2024, 1, 1)

    def track(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def drain():
        s = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double"
            )
            .parquet(src)
            .groupBy("user_id")
            .applyInPandasWithState(
                track,
                outputStructType="user_id bigint, n_events bigint",
                stateStructType="n bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        # file sinks are append-only; foreachBatch accepts the
        # update-mode output and appends each micro-batch's rows
        q = (
            s.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # chunk 1: user 1 gets 3 events, user 2 gets 1
    _write_chunk(
        spark,
        src,
        [(i, base + dt.timedelta(minutes=i), 1 if i < 3 else 2, "view", 1.0) for i in range(4)],
    )
    drain()
    got1 = {
        (r["user_id"], r["n_events"]) for r in spark.read.parquet(out).collect()
    }
    assert got1 == {(1, 3), (2, 1)}

    # chunk 2: 2 more for user 1, 1 for user 3 — counts must CONTINUE
    _write_chunk(
        spark,
        src,
        [(10 + i, base + dt.timedelta(hours=1, minutes=i), 1 if i < 2 else 3, "view", 1.0) for i in range(3)],
    )
    drain()
    latest = {}
    for r in spark.read.parquet(out).collect():
        latest[r["user_id"]] = max(latest.get(r["user_id"], 0), r["n_events"])
    assert latest == {1: 5, 2: 1, 3: 1}


def test_stream_stream_left_outer_interval_join(spark):
    """Left-outer stream-stream join: purchases with NO view in the
    preceding hour must still emit, null-extended — which Spark only
    does once the watermark passes the join window (state eviction
    proves absence). AvailableNow's trailing no-data batch advances the
    watermark to finalize those rows; the result must equal the batch
    left join."""
    from supabase_etl_spark.streaming.source import (
        read_events_stream,
        run_available_now,
    )
    from supabase_etl_spark.io.readers import load_table

    sf = "/root/testdata/sf0.001"

    def sides():
        p = (
            read_events_stream(spark, sf)
            .filter(F.col("event_type") == "purchase")
            .selectExpr("event_id AS pe", "user_id", "ts AS pts")
            .withWatermark("pts", "0 seconds")
        )
        v = (
            read_events_stream(spark, sf)
            .filter(F.col("event_type") == "view")
            .selectExpr("event_id AS ve", "user_id AS vu", "ts AS vts")
            .withWatermark("vts", "0 seconds")
        )
        return p, v

    p, v = sides()
    joined = p.join(
        v,
        (F.col("vu") == F.col("user_id"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") <= F.col("pts")),
        "left_outer",
    ).select("pe", "ve")
    got = {
        (r["pe"], r["ve"]) for r in run_available_now(joined, "append").collect()
    }

    ev = load_table(spark, sf, "events")
    bp = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id AS pe", "user_id", "ts AS pts"
    )
    bv = ev.filter(F.col("event_type") == "view").selectExpr(
        "event_id AS ve", "user_id AS vu", "ts AS vts"
    )
    want_df = bp.join(
        bv,
        (F.col("vu") == F.col("user_id"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") <= F.col("pts")),
        "left",
    ).select("pe", "ve")
    want = {(r["pe"], r["ve"]) for r in want_df.collect()}
    # Boundary: a purchase at the global max event time can never be
    # proven matchless — the watermark stops AT it, and a view with
    # vts == pts would still satisfy the interval, so Spark correctly
    # withholds that one null-extension. Everything else must match.
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    last_pes = {
        r["pe"] for r in bp.filter(F.col("pts") == F.lit(max_ts)).collect()
    }
    withheld = want - got
    assert got <= want
    assert all(pe in last_pes and ve is None for pe, ve in withheld), withheld
    assert any(ve is None for _, ve in got)  # null-extensions did emit


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """A committed batch_id replayed after a simulated failure must be
    a no-op: same rows, data files untouched (the _SUCCESS marker is
    the commit record)."""
    import os

    from supabase_etl_spark.streaming.sinks import foreach_batch_parquet_upsert

    target = str(tmp_path / "fb")
    handler = foreach_batch_parquet_upsert(target)
    batch = spark.range(100).selectExpr("id AS event_id", "id * 2.0 AS value")
    handler(batch, 7)
    dest = os.path.join(target, "batch_id=7")
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    files_before = {
        f: os.path.getmtime(os.path.join(dest, f)) for f in os.listdir(dest)
    }
    # replay the same batch (Spark re-delivers identical rows for a
    # given batch_id) — must not rewrite anything
    handler(batch, 7)
    files_after = {
        f: os.path.getmtime(os.path.join(dest, f)) for f in os.listdir(dest)
    }
    assert files_after == files_before
    assert spark.read.parquet(target).count() == 100

    # a DIFFERENT batch_id lands alongside
    handler(spark.range(100, 150).selectExpr("id AS event_id", "id * 2.0 AS value"), 8)
    assert spark.read.parquet(target).count() == 150


def test_foreach_batch_partial_write_heals(spark, tmp_path):
    """A batch directory without the _SUCCESS marker (crash mid-write)
    must be fully rewritten on replay, not skipped."""
    import os

    from supabase_etl_spark.streaming.sinks import foreach_batch_parquet_upsert

    target = str(tmp_path / "fb2")
    handler = foreach_batch_parquet_upsert(target)
    batch = spark.range(50).selectExpr("id AS event_id")
    handler(batch, 0)
    dest = os.path.join(target, "batch_id=0")
    # simulate the crash: delete the marker and a data file
    os.remove(os.path.join(dest, "_SUCCESS"))
    data_files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    os.remove(os.path.join(dest, data_files[0]))
    handler(batch, 0)  # replay heals
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert spark.read.parquet(target).count() == 50


def test_stream_left_outer_join_watermark_rule(spark):
    """Pins the bounded-replay emission boundary of the left-outer
    stream-stream join at sf0.001: every match-less purchase OLDER
    than min(max purchase_ts, max view_ts) - 10 min emits a null row;
    younger ones are withheld (they'd emit on the next incremental
    run)."""
    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.queries import load_all

    sf = "/root/testdata/sf0.001"
    out = load_all()["stream_stream_left_outer_join"].fn(spark, sf)
    rows = out.collect()
    nulls = {r["purchase_event"] for r in rows if r["n_views"] == 0}

    ev = load_table(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    v = ev.filter(F.col("event_type") == "view")
    wm = min(
        p.agg(F.max("ts")).collect()[0][0], v.agg(F.max("ts")).collect()[0][0]
    )
    import datetime

    cutoff = wm.replace(microsecond=wm.microsecond // 1000 * 1000) - datetime.timedelta(minutes=10)
    matched = {
        r["purchase_event"]
        for r in p.alias("p")
        .join(
            v.alias("v"),
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v.ts") <= F.col("p.ts")),
            "left_semi",
        )
        .select(F.col("p.event_id").alias("purchase_event"))
        .collect()
    }
    expected_nulls = {
        r["event_id"]
        for r in p.filter(F.col("ts") < F.lit(cutoff)).collect()
        if r["event_id"] not in matched
    }
    assert nulls == expected_nulls


class _FakeValueState:
    """Value state with optional TTL, modeling the RocksDB backend's
    idle-key expiry against a fake clock."""

    def __init__(self, ttl_ms=None, clock=None):
        self.v = None
        self.ttl_ms = ttl_ms
        self.clock = clock or (lambda: 0)
        self.written_at = None

    def _expired(self):
        return (
            self.ttl_ms is not None
            and self.written_at is not None
            and self.clock() - self.written_at >= self.ttl_ms
        )

    def exists(self):
        return self.v is not None and not self._expired()

    def get(self):
        return None if self._expired() else self.v

    def update(self, v):
        self.v = v
        self.written_at = self.clock()

    def clear(self):
        self.v = None


class _FakeHandle:
    """Fake StatefulProcessorHandle: value states (with TTL) + the
    timer surface (registerTimer/deleteTimer/listTimers)."""

    def __init__(self, clock=None):
        self.states = {}
        self.timers = []
        self.clock = clock or (lambda: 0)

    def getValueState(self, name, schema, ttl_ms=None):
        return self.states.setdefault(
            name, _FakeValueState(ttl_ms=ttl_ms, clock=self.clock)
        )

    def registerTimer(self, expiry_ms):
        self.timers.append(expiry_ms)

    def deleteTimer(self, expiry_ms):
        self.timers.remove(expiry_ms)

    def listTimers(self):
        return list(self.timers)


def test_transform_with_state_timer_lifecycle():
    """make_session_timeout_processor through the fake handle: open
    sessions emit nothing, each batch re-arms exactly ONE timer at
    last_event + gap, and firing the timer emits the closed session
    and clears state — the transformWithState timer path, runnable
    without protobuf."""
    import pandas as pd

    from supabase_etl_spark.streaming.stateful import make_session_timeout_processor

    GAP = 30_000
    proc = make_session_timeout_processor(GAP)
    h = _FakeHandle()
    proc.init(h)

    out = list(proc.handleInputRows((5,), iter([pd.DataFrame({"ts_ms": [1000, 4000]})]), None))
    assert out == []  # open session: no emission
    assert h.timers == [4000 + GAP]

    # second batch extends the session and REPLACES the timer
    out = list(proc.handleInputRows((5,), iter([pd.DataFrame({"ts_ms": [9000]})]), None))
    assert out == []
    assert h.timers == [9000 + GAP]  # exactly one pending timer

    class _Expired:
        def getExpiryTimeInMs(self):
            return 9000 + GAP

    emitted = list(proc.handleExpiredTimer((5,), None, _Expired()))
    assert len(emitted) == 1
    row = emitted[0].iloc[0]
    assert (row["session_start"], row["session_end"], row["n_events"]) == (1000, 9000, 3)
    # state cleared: a second fire emits nothing
    assert list(proc.handleExpiredTimer((5,), None, _Expired())) == []
    proc.close()


def test_transform_with_state_ttl_expiry():
    """make_counter_processor(ttl_ms=...): state written before the
    TTL horizon is gone at the next batch — the processor restarts the
    count from zero exactly as a RocksDB TTL store would make it."""
    import pandas as pd

    from supabase_etl_spark.queries.streaming import CHECKSUM_K, CHECKSUM_P
    from supabase_etl_spark.streaming.stateful import make_counter_processor

    now = {"t": 0}
    proc = make_counter_processor(CHECKSUM_P, CHECKSUM_K, ttl_ms=60_000)
    h = _FakeHandle(clock=lambda: now["t"])
    proc.init(h)

    out1 = list(proc.handleInputRows((1,), iter([pd.DataFrame({"event_id": [1, 2]})]), None))
    assert out1[0]["n_events"][0] == 2

    now["t"] = 30_000  # within TTL: state survives
    out2 = list(proc.handleInputRows((1,), iter([pd.DataFrame({"event_id": [3]})]), None))
    assert out2[0]["n_events"][0] == 3

    now["t"] = 120_000  # past TTL since last write: state expired
    out3 = list(proc.handleInputRows((1,), iter([pd.DataFrame({"event_id": [4]})]), None))
    assert out3[0]["n_events"][0] == 1  # restarted from zero
    proc.close()


def _protobuf_missing_reason() -> str | None:
    """Exact skip reason for the transformWithStateInPandas gate: the
    real ImportError text, so the skip message names the dependency
    that is actually absent (not an assumption)."""
    try:
        import google.protobuf  # noqa: F401

        return None
    except ImportError as e:
        assert "google" in str(e) or "protobuf" in str(e), str(e)
        return f"transformWithStateInPandas needs google.protobuf: {e}"


import pytest as _pytest  # noqa: E402


@_pytest.mark.skipif(
    _protobuf_missing_reason() is not None, reason=str(_protobuf_missing_reason())
)
def test_transform_with_state_real_path(spark):
    """Runs the REAL transformWithStateInPandas path (no dispatch, no
    fallback) — proven the day the runtime gains protobuf instead of
    assumed. Forces the StatefulProcessor API directly and checks the
    final per-user state equals the batch recompute, exactly like the
    fallback-path test."""
    from pyspark.sql import functions as F

    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.queries.streaming import CHECKSUM_K, CHECKSUM_P
    from supabase_etl_spark.streaming.source import (
        read_events_stream,
        run_available_now,
    )
    from supabase_etl_spark.streaming.stateful import (
        OUT_SCHEMA,
        make_counter_processor,
    )

    sf = "/root/testdata/sf0.001"
    stream_df = read_events_stream(spark, sf)
    out = stream_df.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_counter_processor(CHECKSUM_P, CHECKSUM_K),
        outputStructType=OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    got_rows = run_available_now(out, "update").collect()
    latest = {}
    for r in sorted(got_rows, key=lambda r: r["n_events"]):
        latest[r["user_id"]] = (r["n_events"], r["checksum"])
    ev = load_table(spark, sf, "events")
    want = {
        r["user_id"]: (r["n"], r["ck"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum((F.col("event_id") % CHECKSUM_P) * CHECKSUM_K) % CHECKSUM_P)
            .cast("bigint")
            .alias("ck"),
        )
        .collect()
    }
    assert latest == want


def test_transform_with_state_gate_reason_is_exact():
    """The environment gate must report truthfully: on this runtime the
    probe and the actual import agree, and when the import fails the
    recorded skip reason carries the real ImportError text."""
    from supabase_etl_spark.streaming.stateful import (
        transform_with_state_available,
    )

    reason = _protobuf_missing_reason()
    if reason is None:
        assert transform_with_state_available()
    else:
        assert not transform_with_state_available()
        assert "google.protobuf" in reason


def test_landing_zone_replays_frames_in_list_order(spark):
    """landing_zone_stream writes its files last-first, so only the
    pinned mtimes can order the batches: micro-batch r must hold frame
    r's rows and nothing else. That order is what makes the ingest
    capstones' first-wins replay match the oracle's rank-by-range."""
    from supabase_etl_spark.streaming.sinks import run_foreach_batch
    from supabase_etl_spark.streaming.source import landing_zone_stream

    want = {r: list(range(100 * r, 100 * r + 3 + r)) for r in range(3)}
    seen = {}

    def handler(batch_df, batch_id):
        seen[batch_id] = sorted(row["id"] for row in batch_df.collect())

    frames = [spark.range(ids[0], ids[-1] + 1) for ids in want.values()]
    run_foreach_batch(landing_zone_stream(frames), handler)
    assert seen == want


def test_incremental_replay_has_one_path():
    """Landing zones come from streaming.source.landing_zone_stream and
    foreachBatch runs from streaming.sinks.run_foreach_batch: no query
    pins file mtimes or starts a foreachBatch run of its own."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    queries = repo / "supabase_etl_spark" / "queries"
    offenders = [
        f"{path.name}:{node.lineno} {node.func.attr}"
        for path in sorted(queries.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("utime", "foreachBatch")
    ]
    assert not offenders, offenders


def _persistent_rdds(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.keySet().iterator()
    out = {}
    while it.hasNext():
        k = it.next()
        out[k] = jmap.get(k)
    return out


def _assert_ledger_and_no_leak(spark, name):
    """Run ingest capstone `name` and check its ledger and its state.

    The ledger must hold ONE transaction per landing file: 3 rows (one
    per micro-batch, in pinned mtime order 0,1,2), and every arrival is
    counted exactly once — quality fail, within-batch dup, prior-corpus
    dup or ingested (read back from the final snapshot).

    State must stay bounded: the foreachBatch body persists per-batch
    frames and MUST unpersist them before the next batch — a leak grows
    executor storage linearly in the batch count, which at production
    stream lengths is an OOM. Every persistent RDD that survives the run
    must be a sanctioned localCheckpoint pin, never persist()/cache()
    residue."""
    from supabase_etl_spark.queries import load_all

    before = set(_persistent_rdds(spark))
    out = load_all()[name].fn(spark, "/root/testdata/sf0.001").collect()
    assert [r["range_id"] for r in out] == [0, 1, 2]
    for r in out:
        assert (
            r["n_arrived"]
            == r["n_quality_fail"]
            + r["n_dup_within"]
            + r["n_dup_prior"]
            + r["n_ingested"]
        )
    leaked = {
        k: v.toString()
        for k, v in _persistent_rdds(spark).items()
        if k not in before and not v.rdd().isLocallyCheckpointed()
    }
    assert not leaked, (
        "foreachBatch body leaked persist() blocks across batches: "
        f"{leaked}"
    )


def test_incremental_curation_capstone_batches_and_snapshots(spark):
    """stream_incremental_curation_e2e runs one transaction per landing
    file and accounts for every arrival (see _assert_ledger_and_no_leak)."""
    _assert_ledger_and_no_leak(spark, "stream_incremental_curation_e2e")


def test_incremental_replay_state_is_bounded(spark):
    """The heaviest replay query, written to a noop sink, leaves no
    persist()/cache() residue behind: only localCheckpoint pins may
    survive the run."""
    from supabase_etl_spark.queries import load_all

    before = set(_persistent_rdds(spark))
    q = load_all()["stream_incremental_curation_e2e"]
    q.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    leaked = {
        k: v.toString()
        for k, v in _persistent_rdds(spark).items()
        if k not in before and not v.rdd().isLocallyCheckpointed()
    }
    assert not leaked, (
        "foreachBatch body leaked persist() blocks across batches: "
        f"{leaked}"
    )


@pytest.mark.parametrize(
    "name", ["multimodal_incremental_ingest", "multimodal_audio_incremental_ingest"]
)
def test_media_ingest_capstone_batches_and_state(spark, name):
    """The two media ingest capstones meet the same ledger and
    bounded-state contract as the text capstone."""
    _assert_ledger_and_no_leak(spark, name)
