"""Batched REST upsert sink (reference op L1, etl_supabase.py:71-85)
and object-storage upload (op L3, etl_supabase.py:88-108).

The reference slices a Python list into 300-row chunks and POSTs them
sequentially. Here the sink is `foreachPartition`: every partition
streams its rows into bounded JSON batches and POSTs them in parallel
across executors — same endpoint and auth headers (PostgREST POST,
apikey + Authorization), but N-way parallel and with
exponential-backoff retry, which the reference lacks (SURVEY §4.1 "no
retries/backoff").

Delivery contract: at-least-once, idempotent when the target has a
primary key and upsert=True. NOTE an intentional improvement over the
reference: the reference sends only `Prefer: return=minimal`
(etl_supabase.py:76-80), so its POST is a plain insert that fails on a
primary-key conflict; this sink's default upsert=True adds
`Prefer: resolution=merge-duplicates`, making re-runs idempotent.
Set upsert=False for bit-exact reference wire behavior.

Payload: each row posts as one JSON object. Columns named in
`json_columns` already hold JSON text (the packed `data` column of
`functions.packing.to_jsonb_records`); that text is spliced into the
body verbatim, so a `jsonb` target stores the object the reference
posts (etl_supabase.py:61-66,79) rather than a string scalar, spelled
exactly as in the CSV cell.

Scale posture: batch size bounds memory per task; retries bound
transient failures; per-partition row/batch counts flow back through
accumulators instead of prints (ref :73/:81/:85).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class RestSinkConfig:
    base_url: str  # e.g. http://host:port/rest/v1
    table: str
    api_key: str = ""
    chunk_size: int = 300  # ref parity (etl_supabase.py:71)
    max_retries: int = 3
    backoff_s: float = 0.5
    timeout_s: float = 30.0
    upsert: bool = True


def _row_json(row: dict, json_columns: frozenset[str]) -> str:
    """One row as a JSON object; values of `json_columns` are JSON text
    spliced in as they are (null stays null)."""
    plain = {k: v for k, v in row.items() if k not in json_columns}
    body = json.dumps(plain, ensure_ascii=False, default=str)[:-1]
    for k in json_columns & row.keys():
        sep = "," if len(body) > 1 else ""
        v = row[k]
        body += f"{sep}{json.dumps(k, ensure_ascii=False)}:{'null' if v is None else v}"
    return body + "}"


def _post_chunk(cfg: RestSinkConfig, rows: list[str]) -> None:
    """POST one chunk of rendered rows with retry/backoff. 4xx fails
    fast (a malformed payload won't improve on retry); 5xx / connection
    errors retry."""
    body = ("[" + ",".join(rows) + "]").encode("utf-8")
    headers = {
        "Content-Type": "application/json",
        "Prefer": "resolution=merge-duplicates,return=minimal"
        if cfg.upsert
        else "return=minimal",
    }
    if cfg.api_key:
        headers["apikey"] = cfg.api_key
        headers["Authorization"] = f"Bearer {cfg.api_key}"
    url = f"{cfg.base_url.rstrip('/')}/{cfg.table}"
    attempt = 0
    while True:
        req = urllib.request.Request(url, data=body, headers=headers, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=cfg.timeout_s) as resp:
                if resp.status >= 400:
                    raise urllib.error.HTTPError(url, resp.status, resp.reason, resp.headers, None)
                return
        except urllib.error.HTTPError as e:
            if 400 <= e.code < 500:
                raise  # fail fast, like raise_for_status (ref :83)
            attempt += 1
            if attempt > cfg.max_retries:
                raise
        except (urllib.error.URLError, TimeoutError, ConnectionError):
            attempt += 1
            if attempt > cfg.max_retries:
                raise
        time.sleep(cfg.backoff_s * (2 ** (attempt - 1)))


def upsert_rest(
    df: DataFrame, cfg: RestSinkConfig, json_columns: tuple[str, ...] = ()
) -> dict[str, int]:
    """Write a DataFrame to a PostgREST-style endpoint in bounded
    batches, partition-parallel. `json_columns` name string
    columns that hold JSON text to post as JSON values. Returns
    {'rows': n, 'batches': m} observed via accumulators."""
    sc = df.sparkSession.sparkContext
    rows_acc = sc.accumulator(0)
    batches_acc = sc.accumulator(0)
    spliced = frozenset(json_columns)

    def _write_partition(it):
        buf: list[str] = []

        def flush():
            if buf:
                _post_chunk(cfg, buf)
                rows_acc.add(len(buf))
                batches_acc.add(1)
                buf.clear()

        for row in it:
            buf.append(_row_json(row.asDict(recursive=True), spliced))
            if len(buf) >= cfg.chunk_size:
                flush()
        flush()

    df.foreachPartition(_write_partition)
    return {"rows": rows_acc.value, "batches": batches_acc.value}


def upload_to_storage(
    local_path: str,
    remote_path: str,
    storage_base_url: str,
    bucket: str = "processed-data",
    api_key: str = "",
    upsert: bool = True,
    timeout_s: float = 60.0,
) -> None:
    """Stream a local file to a Supabase-Storage-style object endpoint
    (ref L3, etl_supabase.py:88-108): POST {base}/object/{bucket}/{path}
    ?upsert=true, content-type by extension, fail-fast on HTTP error.

    At scale, prefer writing directly to the object store through a
    Hadoop FS connector (df.write.parquet('s3a://...')) — this REST
    path exists for wire-protocol parity with the reference.
    """
    content_type = "text/csv" if local_path.endswith(".csv") else "application/octet-stream"
    with open(local_path, "rb") as f:
        body = f.read()
    url = f"{storage_base_url.rstrip('/')}/object/{bucket}/{remote_path}"
    if upsert:
        url += "?upsert=true"
    headers = {"Content-Type": content_type}
    if api_key:
        headers["apikey"] = api_key
        headers["Authorization"] = f"Bearer {api_key}"
    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
        if resp.status >= 400:
            raise urllib.error.HTTPError(url, resp.status, resp.reason, resp.headers, None)
