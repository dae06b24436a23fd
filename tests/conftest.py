from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


class MockPostgrest(BaseHTTPRequestHandler):
    """Shared mock PostgREST/storage endpoint (records every POST)."""

    store = None  # set per-server: {"requests": [...], "fail_next": {path: [codes]}}

    def do_POST(self):
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length)
        entry = {
            "path": self.path,
            "rows": json.loads(body) if body and self.path.startswith("/rest") else None,
            "raw_len": len(body),
            "body": body,
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
def postgrest_mock():
    store = {"requests": [], "fail_next": {}}
    handler = type("H", (MockPostgrest,), {"store": store})
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, store
    srv.shutdown()


@pytest.fixture
def pin_spy(monkeypatch):
    """Record every (builder frame, eager flag) passed to
    DataFrame.localCheckpoint during the test body."""
    # Spark 4: classic instances override localCheckpoint on the classic
    # subclass — patch THAT class, not the dispatch base.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    monkeypatch.delenv("SPARK_GRAFT_PIN_MODE", raising=False)  # local: spied
    recorded: list[DataFrame] = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        recorded.append(self)
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return recorded


@pytest.fixture(scope="session")
def spark():
    from supabase_etl_spark.session import get_spark

    spark = get_spark("pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def registry_sweep_params(names):
    """Tier the full-registry sweeps (pytest.ini): bench-set queries run
    in the default (driver-window) tier; every other query keeps its
    test but marked ``slow`` for the builder's full run."""
    from supabase_etl_spark.queries import load_all

    bench_names = {n for n, s in load_all().items() if s.bench}
    return [
        n if n in bench_names else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]


def persistent_rdds(spark) -> dict:
    """{rdd_id: JavaRDD} snapshot of the executor storage registry."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.keySet().iterator()
    out = {}
    while it.hasNext():
        rid = it.next()
        out[rid] = jmap.get(rid)
    return out
