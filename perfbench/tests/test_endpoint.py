"""The mock endpoint's counters."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

from endpoint import MockEndpoint


def _post(url: str, body: bytes) -> int:
    req = urllib.request.Request(url, data=body, method="POST")
    with urllib.request.urlopen(req, timeout=10) as resp:
        return resp.status


def test_counts_rest_rows_bytes_and_storage_objects():
    with MockEndpoint(max_conns=2) as ep:
        rows = [{"ticker": "FPT", "year": 2020, "data": "{}"}] * 3
        body = json.dumps(rows).encode()
        assert _post(f"{ep.url}/rest/v1/fpt_cash_flow", body) == 201
        assert _post(f"{ep.url}/rest/v1/fpt_cash_flow", body) == 201
        assert _post(f"{ep.url}/storage/v1/object/processed-data/etl/t.csv?upsert=true",
                     b"a,b\n1,2\n") == 201
        snap = ep.counters.snapshot()
    assert snap["requests"] == 3
    assert snap["rest_requests"] == 2
    assert snap["rest_bytes"] == 2 * len(body)
    assert snap["rows_by_table"] == {"fpt_cash_flow": 6}
    assert snap["rows"] == 6
    assert snap["storage_requests"] == 1
    assert snap["objects"] == {"processed-data/etl/t.csv": 8}
    assert snap["busy_s"] > 0


def test_reset_clears_every_counter():
    with MockEndpoint() as ep:
        _post(f"{ep.url}/rest/v1/t", b"[{}]")
        ep.counters.reset()
        snap = ep.counters.snapshot()
    assert snap["requests"] == snap["rows"] == snap["rest_bytes"] == 0
    assert snap["busy_s"] == 0 and snap["objects"] == {}


def test_concurrent_posts_lose_no_update():
    n_threads, per_thread = 8, 25
    with MockEndpoint(max_conns=4) as ep:
        def client():
            for _ in range(per_thread):
                _post(f"{ep.url}/rest/v1/t", b"[{}, {}]")

        threads = [threading.Thread(target=client) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        snap = ep.counters.snapshot()
    assert snap["rest_requests"] == n_threads * per_thread
    assert snap["rows"] == 2 * n_threads * per_thread


def test_unknown_path_is_404_and_counted():
    with MockEndpoint() as ep:
        try:
            _post(f"{ep.url}/nope", b"x")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        assert ep.counters.snapshot()["requests"] == 1
