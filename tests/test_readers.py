"""Scan normalization: the engine-facing schema must be stable across
producer quirks (SURVEY §2.3 parity pitfalls; SCALE.md round-3 lesson 3).
The footer memo behind it must plan a known file without a job and
notice a replaced one.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import TimestampType

from supabase_etl_spark.io.readers import (
    _FOOTERS,
    TABLE_NAMES,
    _file_signature,
    load_table,
)

SF = "/root/testdata/sf0.001"


def test_temporal_columns_normalize_to_timestamp(spark):
    """Engine-facing temporal type is TIMESTAMP (LTZ) regardless of how
    the producer wrote the parquet — NANOS (r1-r2 testdata) and
    micros-NTZ (r3 testdata) both normalize at the scan. Guards the
    drift class that broke every unix_micros() plan when the driver
    regenerated the data."""
    for table, col in [
        ("events", "ts"),
        ("lineitem", "l_shipdate"),
        ("orders", "o_orderdate"),
    ]:
        df = load_table(spark, SF, table)
        assert isinstance(
            df.schema[col].dataType, TimestampType
        ), f"{table}.{col}: {df.schema[col].dataType}"


def test_ts_predicate_pushes_down_after_normalization(spark):
    """The NTZ fix is scan-level (conf), not a cast projection — a ts
    range predicate must still reach the parquet scan as a pushed
    filter. A cast-based normalization would silently disable this."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").filter(
        F.col("ts") >= F.lit("2024-01-02").cast("timestamp")
    )
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan


def test_multi_file_embeddings_directory(spark, tmp_path):
    """dedup_semantic's salt-sizing footer probe must handle a
    directory-of-parts embeddings table, not just the driver's
    single-file layout (ADVICE r3: ParquetFile on a directory raises).
    The full query must return the same result either way."""
    from supabase_etl_spark.queries.llm_dedup import (
        _embeddings_row_count,
        dedup_semantic,
    )

    sf2 = tmp_path / "sf_multi"
    sf2.mkdir()
    emb = load_table(spark, SF, "embeddings")
    emb.repartition(2).write.parquet(str(sf2 / "embeddings.parquet"))

    n = _embeddings_row_count(spark, str(sf2))
    assert n == emb.count()
    assert _embeddings_row_count(spark, "/definitely/not/a/path") is None

    expected = sorted(map(tuple, dedup_semantic(spark, SF).collect()))
    got = sorted(map(tuple, dedup_semantic(spark, str(sf2)).collect()))
    assert got == expected


def test_stream_start_reprobes_landing_zone(spark, tmp_path):
    """A landing zone's physical temporal type is decided per STREAM
    START, never memoized across starts (ADVICE r3): an empty zone
    defaults to micros; once a NANOS file lands, the next stream start
    must re-probe and read it correctly (a cached empty-dir verdict
    would read NANOS int64 values as micros timestamps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from supabase_etl_spark.streaming.source import (
        read_events_stream,
        run_available_now,
    )

    zone = tmp_path / "landing"
    zone.mkdir()
    # stream over the empty zone: micros default, zero rows
    s0 = read_events_stream(spark, str(zone), glob="*.parquet")
    assert run_available_now(s0.select("event_id", "ts"), "append").count() == 0

    # a NANOS-timestamped file arrives between stream starts
    ts_ns = pa.array([1_704_067_200_123_456_789], type=pa.timestamp("ns"))
    tbl = pa.table(
        {
            "event_id": pa.array([1], type=pa.int64()),
            "ts": ts_ns,
            "user_id": pa.array([7], type=pa.int64()),
            "event_type": pa.array(["view"], type=pa.string()),
            "value": pa.array([1.5], type=pa.float64()),
            "props": pa.array(["{}"], type=pa.string()),
        }
    )
    pq.write_table(tbl, zone / "batch1.parquet")

    s1 = read_events_stream(spark, str(zone), glob="*.parquet")
    rows = run_available_now(s1.select("event_id", "ts"), "append").collect()
    assert len(rows) == 1
    # nanos truncate to micros: ...123456789 ns -> ...123456 us
    assert rows[0].ts.microsecond == 123456


def test_raw_nanos_read_does_not_depend_on_session_history(spark, tmp_path):
    """A new session of the factory's context reads a NANOS column as
    int64 on a raw ``read.parquet``, before any ``read_parquet`` call
    in it: the factory sets ``nanosAsLong``, not the first NANOS file
    a session happens to meet. A session without that conf gets it from
    its first ``read_parquet`` call, whatever file that call reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from supabase_etl_spark.io.readers import read_parquet

    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_704_067_200_123_456_789], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    fresh = spark.newSession()
    assert isinstance(fresh.read.parquet(path).schema["ts"].dataType, LongType)

    micros = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"ts": ts.cast(pa.timestamp("us"), safe=False)}), micros)
    other = spark.newSession()
    other.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    read_parquet(other, micros)
    assert isinstance(other.read.parquet(path).schema["ts"].dataType, LongType)


def _group_jobs(spark, group, fn):
    """Job ids ``fn()`` starts under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_memoized_schema_matches_fresh_inference(spark, sf):
    """The schema a scan plans from is Spark's own inference for the
    file, reused: for every table, equal to a fresh
    ``spark.read.parquet`` under the confs ``read_parquet`` pins."""
    sf_dir = f"/root/testdata/{sf}"
    for table in TABLE_NAMES:
        load_table(spark, sf_dir, table)
        path = f"{sf_dir}/{table}.parquet"
        _nanos, schema = _FOOTERS.get((path, _file_signature(path)))
        assert schema == spark.read.parquet(path).schema, table


def test_second_read_plans_without_a_job(spark):
    """A known file's scan plan starts no job: neither a second
    ``load_table`` nor a second build of a query over it."""
    from supabase_etl_spark.queries import load_all

    q1 = load_all()["q1_pricing_summary"]
    load_table(spark, SF, "lineitem")
    assert _group_jobs(spark, "readers-load", lambda: load_table(spark, SF, "lineitem")) == []
    q1.fn(spark, SF)
    assert _group_jobs(spark, "readers-q1", lambda: q1.fn(spark, SF)) == []


def test_replaced_file_is_probed_again(spark, tmp_path):
    """A micros ``events.parquet`` replaced by a NANOS one at the same
    path is read as NANOS: the footer memo is keyed by the file's
    signature, not its path alone."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(unit, value):
        pq.write_table(
            pa.table({"event_id": pa.array([1], type=pa.int64()),
                      "ts": pa.array([value], type=pa.timestamp(unit))}),
            tmp_path / "events.parquet",
        )

    write("us", 1_704_067_200_123_456)
    first = load_table(spark, str(tmp_path), "events").collect()
    write("ns", 1_704_067_200_654_321_987)
    second = load_table(spark, str(tmp_path), "events").collect()
    assert isinstance(second[0].ts, datetime.datetime)
    # nanos truncate to micros, as in the stream-start test above
    assert (first[0].ts.microsecond, second[0].ts.microsecond) == (123456, 654321)


def test_rewritten_directory_is_inferred_again(spark, tmp_path):
    """A directory-of-parts table that Spark overwrites with an added
    column plans from the new footers, not the memoized schema."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "nation.parquet")
    nation = load_table(spark, SF, "nation")
    nation.write.parquet(out)
    assert "n_extra" not in load_table(spark, str(tmp_path), "nation").columns
    nation.withColumn("n_extra", F.lit(1)).write.mode("overwrite").parquet(out)
    back = load_table(spark, str(tmp_path), "nation")
    assert back.columns[-1] == "n_extra"
    assert back.filter(F.col("n_extra") == 1).count() == nation.count()
