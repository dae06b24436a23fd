"""Source scans (SURVEY.md §2.2 "Sources / sinks").

The reference's only source is an SDK/REST pull into pandas
(etl_supabase.py:115-119, op S1). Here the general surface is Spark's
declarative readers — parquet/csv/json/binaryFile — which give Catalyst
predicate pushdown, column pruning and partition pruning for free. The
driver testdata is parquet (TESTDATA.md); at 100 TB the same calls fan
out over splits, no code change.

When a parquet scan plan starts a Spark job: only on the first read of
a file signature in the process. Without a schema, ``spark.read.parquet``
infers one by reading footers in a Spark job, on every call. So
``read_parquet`` keeps a bounded per-process memo of each file's footer
facts (the TIMESTAMP(NANOS) probe and the schema Spark inferred) and
reads every time through ``spark.read.schema(schema).parquet(path)``;
after the first read, building a plan over that file starts no job. The
memo key is the path plus the signature of the file(s) it resolves to
(name, size, ``st_mtime_ns``; every file under a directory), taken with
``os.stat`` on the driver: a file replaced or a directory rewritten at
the same path gets a new key, so its footers are read again rather than
served stale (a micros file replaced by a NANOS one would otherwise be
read with the old schema and fail).
"""

from __future__ import annotations

import glob as _glob
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables: always broadcast-join candidates at any scale
# (region=5, nation=25 rows; supplier scales but stays tiny relative to
# the fact tables).
BROADCAST_DIMS = {"region", "nation", "supplier"}


def _resolve(path: str) -> list[str]:
    """The glob's matches, sorted, or the path itself."""
    return sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]


def _nanos_timestamp_cols_uncached(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. Footer-only metadata read (driver-side,
    O(1) regardless of data size). Not memoized: ``read_parquet`` keeps
    its result in the footer memo under the file signature, and stream
    starts over a landing zone re-probe on every start (ADVICE r3: a
    cached empty/micros probe would pin the wrong schema for NANOS files
    arriving later)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    files = _resolve(path)
    if os.path.isdir(files[0]):
        # directory-of-parts table: probe the first data file (Spark's
        # own scan handles the directory; only this footer probe needs
        # a concrete file)
        files = sorted(
            _glob.glob(os.path.join(files[0], "*.parquet"))
            or _glob.glob(os.path.join(files[0], "part-*"))
        )
    schema = pq.read_schema(files[0])
    return tuple(
        f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


def _file_signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """(name, size, st_mtime_ns) of every file ``path`` resolves to: the
    file itself, each glob match, or every file under a directory of
    parts. Driver-side ``os.stat`` calls, no Spark job."""
    roots = _resolve(path)
    sig = []
    for root in roots:
        if os.path.isdir(root):
            for dirpath, dirnames, filenames in os.walk(root):
                dirnames.sort()
                for name in sorted(filenames):
                    f = os.path.join(dirpath, name)
                    st = os.stat(f)
                    sig.append((f, st.st_size, st.st_mtime_ns))
        else:
            st = os.stat(root)
            sig.append((root, st.st_size, st.st_mtime_ns))
    return tuple(sig)


# Footer facts per (path, signature): (nanos columns, inferred schema).
# Shared by every session in the process (a schema is plain data); the
# oldest entry goes first past the bound. The lock guards the
# insert-then-evict pair against concurrent planning threads.
_FOOTERS: OrderedDict[tuple, tuple[tuple[str, ...], StructType]] = OrderedDict()
_FOOTERS_MAX = 256
_FOOTERS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with a stable engine-facing timestamp type.

    Files written by different producers disagree on temporal physical
    types: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects)
    vs TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4
    infers as TIMESTAMP_NTZ). The engine normalizes both to the session
    TIMESTAMP type so every downstream plan — event-time arithmetic
    (``unix_micros``), watermarks, window frames — sees one type
    regardless of producer:

    - NANOS → read as raw int64 (spark.sql.legacy.parquet.nanosAsLong)
      and truncate to microseconds, the same truncation DuckDB applies;
    - NTZ → cast to TIMESTAMP. The session runs in UTC (session.py), so
      the wall-clock field values are bit-identical to DuckDB's naive
      microsecond timestamps.

    The scan always passes the schema Spark inferred on the first read
    of this file signature (module docstring), so only that first read
    starts a schema-inference job.
    """
    key = (path, _file_signature(path))
    facts = _FOOTERS.get(key)
    nanos_cols = facts[0] if facts else _nanos_timestamp_cols_uncached(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # scan-level (not cast-level) normalization: the reader emits
    # TIMESTAMP directly, so ts predicates still push down to parquet
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # NTZ→TIMESTAMP is value-preserving ONLY in a UTC session: pin the
    # runtime conf here so the invariant holds on ANY session, not just
    # our session.py factory (ADVICE r3: the driver's vanilla harness
    # session inherits the host TZ, which merely happens to be UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if facts is None:
        # the one inference job for this signature, under the confs above
        facts = (nanos_cols, spark.read.parquet(path).schema)
        with _FOOTERS_LOCK:
            _FOOTERS[key] = facts
            if len(_FOOTERS) > _FOOTERS_MAX:
                _FOOTERS.popitem(last=False)
    df = spark.read.schema(facts[1]).parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # defensive: if a producer wrote a logical NTZ annotation the conf
    # above does not cover, fall back to a cast projection
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Lazy; filters/projections push down.

    Starts a Spark job (schema inference) only on the process's first
    read of the table file's current signature; later calls, from any
    session, plan from the memoized schema (``read_parquet``)."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry point."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro object-container scan over the engine's pure-Python codec
    (io/avro_codec.py — no spark-avro jar in this runtime; see that
    module's header for the documented subset). Distributed shape: the
    schema comes from a driver-side HEADER-ONLY probe of the first file
    (the parquet footer-probe analogue — no data blocks read); the
    files then flow through the binaryFile source and each decodes
    inside mapInPandas on the executors. One task per file, no
    driver-side data path — binaryFile cannot split a single file, the
    same per-file parallelism Spark's own avro/json readers get on
    non-splittable codecs."""
    from supabase_etl_spark.io.avro_codec import (
        AVRO_TO_SPARK,
        decode_file,
        decode_header,
    )

    files = sorted(_glob.glob(os.path.join(path, "*.avro")) or _glob.glob(path))
    with open(files[0], "rb") as fh:
        head = fh.read(65536)
    fields, _sync, _pos = decode_header(head)
    out_schema = ", ".join(f"`{n}` {AVRO_TO_SPARK[t]}" for n, t in fields)
    names = [n for n, _ in fields]

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                fs, recs = decode_file(bytes(content))
                if recs:
                    yield pd.DataFrame(recs, columns=[n for n, _ in fs])[names]

    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(
        path
    )
    return binary.select("content").mapInPandas(decode, out_schema)


def read_binary(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal scan: opaque bytes + metadata (SURVEY §2.2 binary scan).

    Yields (path, modificationTime, length, content: binary) — the
    engine's convention for image/audio/video payload columns.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
