"""Incremental file source over the ``events`` table.

The reference has no streaming; its closest analogue is the daily cron
re-run (etl.yml:4-6). Structured Streaming's file source with
``Trigger.AvailableNow`` is the idiomatic replacement: each run
processes exactly the files that arrived since the last checkpoint and
stops — incremental batch with exactly-once bookkeeping, which is what
a 100 TB ingest actually wants (no always-on cluster, resumable).

Multi-batch replays build their micro-batches with
``landing_zone_stream``: one parquet file per batch, mtimes pinned in
batch order, read one file per trigger.

events.parquet stores TIMESTAMP(NANOS); like the batch reader
(io/readers.py) we read it as long and truncate to micros so event-time
semantics agree with DuckDB.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """readStream over events-shaped parquet, tolerant of producer
    temporal types like the batch reader (io/readers.py): NANOS files
    are read as int64 and truncated to micros; MICROS files are read
    straight into TIMESTAMP (the explicit schema pins the type, so NTZ
    inference never applies). ``glob`` scopes the directory scan
    (default: just the sf-dir's events table; incremental landing zones
    pass a wildcard to pick up newly arriving files)."""
    from supabase_etl_spark.io.readers import _nanos_timestamp_cols_uncached

    # Footer probe on the first matching file decides the read schema,
    # re-probed at EVERY stream start (never memoized: a landing zone's
    # contents change between starts, so a cached empty/micros verdict
    # would pin the wrong schema for NANOS files that arrived since).
    # An empty landing zone (no files yet) defaults to the micros
    # schema; a zone must be temporally homogeneous WITHIN one stream's
    # lifetime — the schema is pinned at start, as with any
    # schema-declared file source.
    try:
        nanos = "ts" in _nanos_timestamp_cols_uncached(f"{sf_dir}/{glob}")
    except (IndexError, FileNotFoundError, OSError):
        nanos = False
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file source wants a directory (it infers basePath); scope the
    # scan to the events file(s) with a glob filter
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA_NANOS if nanos else EVENTS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def landing_zone_stream(frames: list[DataFrame]) -> DataFrame:
    """Replay ``frames`` as a landing zone: each frame is written as one
    parquet file, the files' mtimes are pinned in list order, and the
    zone is returned as a ``maxFilesPerTrigger=1`` stream with the
    frames' schema. Under AvailableNow micro-batch r then reads exactly
    ``frames[r]`` (the file source drains oldest-mtime first), which is
    what lets a first-wins replay match a rank-by-arrival oracle."""
    from supabase_etl_spark.io.scratch import scratch_dir

    zone = scratch_dir("landing_zone_")
    # written last-first, so batch order rests on the pinned mtimes alone
    # (a zone written in arrival order would hide a missing pin)
    for r, frame in reversed(list(enumerate(frames))):
        pdir = os.path.join(zone, f"part{r}")
        frame.coalesce(1).write.parquet(pdir)
        t = 1_700_000_000 + 100 * r
        for fn in os.listdir(pdir):
            os.utime(os.path.join(pdir, fn), (t, t))
    return (
        frames[0]
        .sparkSession.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(zone, "part*"))
    )


def run_available_now(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming plan to completion with Trigger.AvailableNow
    into a memory sink; return the sink as a batch DataFrame.

    Fresh checkpoint per call → deterministic full replay (the
    correctness harness wants the batch-equivalent answer; production
    would keep the checkpoint to get incremental semantics)."""
    import shutil

    name = "snk_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # fresh-checkpoint-per-call means the dir holds nothing a later run
    # wants; removing it keeps repeated harness invocations disk-flat
    # (the scratch-dir discipline the io queries follow)
    shutil.rmtree(ckpt, ignore_errors=True)
    return sdf.sparkSession.table(name)
