"""REST sink tests against a local mock PostgREST (SURVEY §5.2.3, B3).

Asserts: chunk sizes ≤ 300 (ref :71,:77-78), upsert headers, retry on
5xx with eventual success, fail-fast on 4xx, at-least-once delivery
accounting, and the EP1 pipeline end-to-end (extract → jsonb records →
CSV → REST upsert → storage upload) against the mock.
"""

from __future__ import annotations

import csv
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from supabase_etl_spark.io.rest_sink import RestSinkConfig, upsert_rest


class _MockPostgrest(BaseHTTPRequestHandler):
    store = None  # set per-server: {"requests": [...], "fail_next": {path: [codes]}}

    def do_POST(self):
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length)
        entry = {
            "path": self.path,
            "rows": json.loads(body) if body and self.path.startswith("/rest") else None,
            "raw_len": len(body),
            "headers": dict(self.headers),
        }
        self.store["requests"].append(entry)
        fail_queue = self.store["fail_next"].get(self.path, [])
        code = fail_queue.pop(0) if fail_queue else 201
        self.send_response(code)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def mock_server():
    store = {"requests": [], "fail_next": {}}
    handler = type("H", (_MockPostgrest,), {"store": store})
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, store
    srv.shutdown()


def _base(srv):
    return f"http://127.0.0.1:{srv.server_address[1]}/rest/v1"


def _csv_rows(csv_dir):
    """Data rows of a single-file Spark CSV directory (Spark escapes
    quotes inside a quoted cell with a backslash)."""
    part = next(p for p in csv_dir.iterdir() if p.suffix == ".csv")
    with open(part, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh, escapechar="\\", doublequote=False))[1:]


def test_chunking_and_headers(spark, mock_server):
    srv, store = mock_server
    df = spark.range(750).selectExpr("id", "id * 2 AS v").coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t1", api_key="k123", chunk_size=300)
    metrics = upsert_rest(df, cfg)
    assert metrics == {"rows": 750, "batches": 3}
    sizes = sorted(len(r["rows"]) for r in store["requests"])
    assert sizes == [150, 300, 300]
    # urllib normalizes header casing on the wire — compare case-insensitively
    hdr = {k.lower(): v for k, v in store["requests"][0]["headers"].items()}
    assert hdr["apikey"] == "k123"
    assert hdr["authorization"] == "Bearer k123"
    assert "merge-duplicates" in hdr["prefer"]
    assert all(r["path"] == "/rest/v1/t1" for r in store["requests"])


def test_retry_on_500_then_success(spark, mock_server):
    srv, store = mock_server
    store["fail_next"]["/rest/v1/t2"] = [500, 503]
    df = spark.range(10).coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t2", chunk_size=300, backoff_s=0.01)
    metrics = upsert_rest(df, cfg)
    assert metrics["rows"] == 10
    # 2 failures + 1 success = 3 POSTs, at-least-once visible on the wire
    assert len(store["requests"]) == 3


def test_fail_fast_on_400(spark, mock_server):
    srv, store = mock_server
    store["fail_next"]["/rest/v1/t3"] = [400]
    df = spark.range(5).coalesce(1)
    cfg = RestSinkConfig(base_url=_base(srv), table="t3", backoff_s=0.01)
    with pytest.raises(Exception):
        upsert_rest(df, cfg)
    assert len(store["requests"]) == 1  # no retry on 4xx


def test_pipeline_end_to_end(spark, mock_server, tmp_path):
    """EP1 parity: extract → records → CSV → REST → storage upload."""
    from supabase_etl_spark.plans.pipeline import PipelineConfig, run_pipeline

    srv, store = mock_server

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
