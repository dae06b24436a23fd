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

Payload: each row posts as one JSON object, rendered once in the JVM
by Spark's JSON writer (`to_json`, nulls kept) — the writer that spells
the packed `data` column (`functions.packing.pack_json`) and so the CSV
cell. Columns named in `json_columns` already hold JSON text; that text
is spliced into the object verbatim (a null as `null`), so a `jsonb`
target stores the object the reference posts (etl_supabase.py:61-66,79)
rather than a string scalar. The rendered rows cross to the Python
poster as UTF-8 lines, as `DataFrame.toJSON` sends them. Spellings that
differ from Python's `json.dumps`:

    Spark type     posted as
    decimal        a number: 1.23
    timestamp      ISO-8601 in the session time zone, e.g.
                   "2024-01-02T03:04:05.000Z" under UTC
    date           "2024-01-02"
    double NaN     the string "NaN" (Infinity likewise), never the bare
                   token, which strict parsers such as PostgREST reject
    binary         base64: "AQI="

Strings, integers, booleans, arrays, structs and nulls parse to the
same JSON values as `json.dumps` of the row would give.

Scale posture: batch size bounds memory per task; retries bound
transient failures; per-partition row, batch and retry counts flow back
through accumulators instead of prints (ref :73/:81/:85).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from itertools import islice

from pyspark.core.rdd import RDD
from pyspark.serializers import UTF8Deserializer
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


def _row_text(df: DataFrame, json_columns: tuple[str, ...]) -> Column:
    """Each row as the text of one JSON object: the plain columns through
    Spark's JSON writer, then each `json_columns` value spliced in as it
    is (null as null)."""
    members = [
        F.concat(
            F.lit(json.dumps(c, ensure_ascii=False) + ":"),
            F.coalesce(F.col(f"`{c}`"), F.lit("null")),
        )
        for c in df.columns
        if c in json_columns
    ]
    plain = [F.col(f"`{c}`") for c in df.columns if c not in json_columns]
    if plain:
        obj = F.to_json(F.struct(*plain), {"ignoreNullFields": "false"})
        members.insert(0, obj.substr(F.lit(2), F.length(obj) - 2))  # without its braces
    return F.concat(F.lit("{"), F.concat_ws(",", *members), F.lit("}"))


def _post_chunk(cfg: RestSinkConfig, rows: list[bytes]) -> int:
    """POST one chunk of rendered rows (UTF-8 JSON objects) with
    retry/backoff. 4xx fails fast (a malformed payload won't improve on
    retry); 5xx / connection errors retry. Returns the number of POSTs
    re-sent."""
    body = b"[" + b",".join(rows) + b"]"
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
                return attempt
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
    {'rows': n, 'batches': m, 'retries': r} observed via accumulators;
    `retries` counts POSTs re-sent after a 5xx or a connection error."""
    sc = df.sparkSession.sparkContext
    rows_acc = sc.accumulator(0)
    batches_acc = sc.accumulator(0)
    retries_acc = sc.accumulator(0)

    def _write_partition(lines):
        while chunk := list(islice(lines, cfg.chunk_size)):
            retries_acc.add(_post_chunk(cfg, chunk))
            rows_acc.add(len(chunk))
            batches_acc.add(1)

    # The rendered rows cross to Python as UTF-8 lines, the route
    # DataFrame.toJSON takes, and are posted as the bytes that arrive:
    # the poster unpickles no Rows and decodes no text.
    lines = getattr(df.select(_row_text(df, json_columns))._jdf, "as")(
        sc._jvm.org.apache.spark.sql.Encoders.STRING()
    ).toJavaRDD()
    RDD(lines, sc, UTF8Deserializer(use_unicode=False)).foreachPartition(_write_partition)
    return {"rows": rows_acc.value, "batches": batches_acc.value, "retries": retries_acc.value}


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
