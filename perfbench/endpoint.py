"""Mock PostgREST + Storage endpoint the ``etl_daily`` workload loads into.

A threaded HTTP server inside the benchmark process. ``POST /rest/v1/<table>``
takes a JSON array of rows, ``POST /storage/v1/object/<bucket>/<path>``
takes an object body; both answer 201. The server accepts at most
``max_conns`` connections at once (a semaphore around each request
thread) and counts, per table and in total, what it received and how
long its handlers were busy, so a gain that comes from the mock is not
read as a gain in the program. It injects no faults.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

REST_PREFIX = "/rest/v1/"
STORAGE_PREFIX = "/storage/v1/object/"


class Counters:
    """What the endpoint received. All updates go through one lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.requests = 0
            self.rest_requests = 0
            self.rest_bytes = 0
            self.storage_requests = 0
            self.storage_bytes = 0
            self.busy_s = 0.0
            self.rows_by_table: dict[str, int] = defaultdict(int)
            self.objects: dict[str, int] = {}

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "rest_requests": self.rest_requests,
                "rest_bytes": self.rest_bytes,
                "rows": sum(self.rows_by_table.values()),
                "storage_requests": self.storage_requests,
                "storage_bytes": self.storage_bytes,
                "busy_s": self.busy_s,
                "rows_by_table": dict(self.rows_by_table),
                "objects": dict(self.objects),
            }


class _Handler(BaseHTTPRequestHandler):
    counters: Counters  # set on the per-server subclass
    protocol_version = "HTTP/1.0"

    def do_POST(self) -> None:  # noqa: N802 (http.server naming)
        t0 = time.perf_counter()
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        path = self.path.split("?", 1)[0]
        code = 201
        n_rows = len(json.loads(body)) if path.startswith(REST_PREFIX) else 0
        c = self.counters
        # counted before the reply, so a client that has its answer sees it
        with c.lock:
            c.requests += 1
            if path.startswith(REST_PREFIX):
                c.rest_requests += 1
                c.rest_bytes += len(body)
                c.rows_by_table[path[len(REST_PREFIX):]] += n_rows
            elif path.startswith(STORAGE_PREFIX):
                c.storage_requests += 1
                c.storage_bytes += len(body)
                c.objects[path[len(STORAGE_PREFIX):]] = len(body)
            else:
                code = 404
            c.busy_s += time.perf_counter() - t0
        self.send_response(code)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args) -> None:
        pass


class _BoundedServer(ThreadingHTTPServer):
    daemon_threads = False  # server_close() joins every request thread

    def __init__(self, addr, handler, max_conns: int) -> None:
        super().__init__(addr, handler)
        self.slots = threading.BoundedSemaphore(max_conns)

    def process_request(self, request, client_address) -> None:
        self.slots.acquire()
        try:
            super().process_request(request, client_address)
        except BaseException:
            self.slots.release()
            raise

    def process_request_thread(self, request, client_address) -> None:
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.slots.release()


class MockEndpoint:
    """``with MockEndpoint() as ep:`` serves on ``ep.url`` until exit."""

    def __init__(self, max_conns: int | None = None) -> None:
        self.counters = Counters()
        handler = type("Handler", (_Handler,), {"counters": self.counters})
        self.server = _BoundedServer(("127.0.0.1", 0), handler, max_conns or os.cpu_count() or 1)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self) -> MockEndpoint:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)
