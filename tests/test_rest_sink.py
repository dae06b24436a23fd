"""REST sink tests against a local mock PostgREST (SURVEY §5.2.3, B3).

Asserts: chunk sizes ≤ 300 (ref :71,:77-78), upsert headers, retry on
5xx, 408 and 429 with eventual success, fail-fast on other 4xx,
at-least-once delivery accounting, the JSON spelling of every column
type, one Spark job per upsert, and the EP1 pipeline end-to-end
(extract → jsonb records → CSV → REST upsert → storage upload) against
the mock.
"""

from __future__ import annotations

import base64
import csv
import datetime
import decimal
import json

import pytest

from supabase_etl_spark.io.rest_sink import RestSinkConfig, upsert_rest


def _base(srv):
    return f"http://127.0.0.1:{srv.server_address[1]}/rest/v1"


def _csv_rows(csv_dir):
    """Data rows of a single-file Spark CSV directory (Spark escapes
    quotes inside a quoted cell with a backslash)."""
    part = next(p for p in csv_dir.iterdir() if p.suffix == ".csv")
    with open(part, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh, escapechar="\\", doublequote=False))[1:]


def test_chunking_and_headers(spark, postgrest_mock):
    srv, store = postgrest_mock
    df = spark.range(750).selectExpr("id", "id * 2 AS v").coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t1", api_key="k123", chunk_size=300)
    metrics = upsert_rest(df, cfg)
    assert metrics == {"rows": 750, "batches": 3, "retries": 0}
    sizes = sorted(len(r["rows"]) for r in store["requests"])
    assert sizes == [150, 300, 300]
    # urllib normalizes header casing on the wire — compare case-insensitively
    hdr = {k.lower(): v for k, v in store["requests"][0]["headers"].items()}
    assert hdr["apikey"] == "k123"
    assert hdr["authorization"] == "Bearer k123"
    assert "merge-duplicates" in hdr["prefer"]
    assert all(r["path"] == "/rest/v1/t1" for r in store["requests"])


def test_retry_on_500_then_success(spark, postgrest_mock):
    srv, store = postgrest_mock
    store["fail_next"]["/rest/v1/t2"] = [500, 503]
    df = spark.range(10).coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t2", chunk_size=300, backoff_s=0.01)
    metrics = upsert_rest(df, cfg)
    assert metrics["rows"] == 10
    # 2 failures + 1 success = 3 POSTs, at-least-once visible on the wire
    assert len(store["requests"]) == 3
    assert metrics["retries"] == 2


def test_retry_on_429_and_408_then_success(spark, postgrest_mock):
    """PostgREST's rate limit (429) and a request timeout (408) get
    better on re-send, so they retry like a 5xx."""
    srv, store = postgrest_mock
    store["fail_next"]["/rest/v1/t4"] = [429, 408]
    df = spark.range(10).coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t4", backoff_s=0.01)
    metrics = upsert_rest(df, cfg)
    assert metrics["rows"] == 10
    assert len(store["requests"]) == 3
    assert metrics["retries"] == 2


def test_fail_fast_on_400(spark, postgrest_mock):
    srv, store = postgrest_mock
    store["fail_next"]["/rest/v1/t3"] = [400]
    df = spark.range(5).coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t3", backoff_s=0.01)
    with pytest.raises(Exception):
        upsert_rest(df, cfg)
    assert len(store["requests"]) == 1  # no retry on 4xx


def _strict_rows(store):
    """Every posted row, parsed by a JSON parser that rejects the
    non-standard NaN/Infinity literals, as PostgREST does."""

    def reject(token):
        raise ValueError(f"invalid JSON constant {token}")

    return [
        row
        for r in store["requests"]
        for row in json.loads(r["body"], parse_constant=reject)
    ]


def test_payload_type_matrix(spark, postgrest_mock):
    """Each column type as Spark's JSON writer spells it (the writer of
    the packed `data` column and the CSV cell): NaN as "NaN", decimal as
    a number, timestamp as ISO-8601 UTC, binary as base64."""
    from pyspark.sql import Row

    srv, store = postgrest_mock
    df = spark.createDataFrame(
        [(
            1, 2**40, True, 'say "hi"\nDoanh thu năm', float("nan"), 1e16, 0.1,
            decimal.Decimal("1.23"), datetime.datetime(2024, 1, 2, 3, 4, 5),
            datetime.date(2024, 1, 2), None, [1, 2], Row(x=1, y="z"),
            bytearray(b"\x01\x02"), "v", 2024,
        )],
        "i int, big bigint, flag boolean, s string, nan double, large double, "
        "small double, dec decimal(10,2), ts timestamp, d date, missing int, "
        "arr array<int>, st struct<x:int,y:string>, bin binary, `a b` string, "
        "`Năm` int",
    )
    cfg = RestSinkConfig(base_url=_base(srv), table="types", backoff_s=0.01)
    assert upsert_rest(df, cfg)["rows"] == 1

    (row,) = _strict_rows(store)
    assert list(row) == df.columns  # every key, in column order, nulls kept
    assert row["missing"] is None
    assert row["nan"] == "NaN"
    assert row["large"] == 1e16 and row["small"] == 0.1
    assert row["dec"] == 1.23
    assert row["ts"] == "2024-01-02T03:04:05.000Z"
    assert row["d"] == "2024-01-02"
    assert base64.b64decode(row["bin"]) == b"\x01\x02" and row["bin"] == "AQI="
    assert row["i"] == 1 and row["big"] == 2**40 and row["flag"] is True
    assert row["s"] == 'say "hi"\nDoanh thu năm'
    assert row["arr"] == [1, 2]
    assert row["st"] == {"x": 1, "y": "z"}
    assert row["a b"] == "v" and row["Năm"] == 2024


def test_json_column_only_frame(spark, postgrest_mock):
    """A frame of one `json_columns` column: its text is spliced in as
    the value, a null as null."""
    srv, store = postgrest_mock
    df = spark.createDataFrame(
        [('{"Doanh thu": 1.5, "nested": [1, {"a": null}]}',), (None,)], "data string"
    ).coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="spliced", backoff_s=0.01)
    assert upsert_rest(df, cfg, json_columns=("data",))["rows"] == 2
    assert _strict_rows(store) == [
        {"data": {"Doanh thu": 1.5, "nested": [1, {"a": None}]}},
        {"data": None},
    ]


def test_upsert_runs_one_job_on_a_cached_frame(spark, postgrest_mock):
    """The sink is one pass over its input: no collect, count or second
    scan of the frame it posts."""
    srv, _ = postgrest_mock
    df = spark.range(40).selectExpr("id", "CAST(id AS string) AS data").repartition(3)
    df.persist()
    try:
        df.count()
        sc = spark.sparkContext
        sc.setJobGroup("rest-sink-jobs", "upsert_rest on a cached frame")
        try:
            cfg = RestSinkConfig(base_url=_base(srv), table="jobs", chunk_size=7)
            assert upsert_rest(df, cfg, json_columns=("data",))["rows"] == 40
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup("rest-sink-jobs")) == 1
    finally:
        df.unpersist()


def test_pipeline_end_to_end(spark, postgrest_mock, tmp_path):
    """EP1 parity: extract → records → CSV → REST → storage upload."""
    from supabase_etl_spark.plans.pipeline import PipelineConfig, run_pipeline

    srv, store = postgrest_mock

    def source(s):
        return s.createDataFrame(
            [("FPT", 2020, 1.0), ("", 2021, float("nan"))],
            "CP string, `Năm` int, `Doanh thu` double",
        )

    cfg = PipelineConfig(
        sources={"fpt_income_statement": source},
        csv_dir=str(tmp_path),
        rest_base_url=_base(srv),
        rest_api_key="key",
        storage_base_url=f"http://127.0.0.1:{srv.server_address[1]}/storage/v1",
    )
    report = run_pipeline(spark, cfg)
    m = report["fpt_income_statement"]
    assert m["rows"] == 2
    # batch count depends on partitioning (one flush per non-empty
    # partition) — assert delivery, not partition layout
    assert m["rest"]["rows"] == 2
    assert m["rest"]["batches"] >= 1
    assert m["storage_object"] == "etl/fpt_income_statement.csv"

    rest_reqs = [r for r in store["requests"] if r["path"].startswith("/rest")]
    assert rest_reqs[0]["rows"][0]["ticker"] == "FPT"
    # `data` posts as the JSON object the CSV cell holds (a jsonb value,
    # not a string scalar), spelled as in the CSV
    posted = {(r["ticker"], r["year"]): r["data"] for q in rest_reqs for r in q["rows"]}
    assert len(posted) == 2
    for cell_ticker, cell_year, cell_data in _csv_rows(tmp_path / "fpt_income_statement"):
        data = posted[(cell_ticker, int(cell_year))]
        assert isinstance(data, dict)
        assert data == json.loads(cell_data)
    assert posted[("FPT", 2021)] == {"Doanh thu": None}
    storage_reqs = [r for r in store["requests"] if r["path"].startswith("/storage")]
    assert storage_reqs and storage_reqs[0]["path"].endswith("?upsert=true")
    st_hdr = {k.lower(): v for k, v in storage_reqs[0]["headers"].items()}
    assert st_hdr["content-type"] == "text/csv"
    assert storage_reqs[0]["raw_len"] > 0
