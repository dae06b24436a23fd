"""Pipeline driver — the reference's EP1 lifecycle, Spark-first.

Reference (etl_supabase.py:111-158): extract 3 statement tables →
row-loop transform → CSV → chunked REST upsert → storage upload, all
sequential, single-threaded, each statement fetched once. Here each
table is extracted once too: its packed records are persisted, the row
count fills that cache, and the CSV write and the REST upsert read the
cached copy; the cache is released when the table is done, also when a
sink fails (see docs/ORCHESTRATION.md, "Per table"). Config is
injected per-run — no module-level env coupling (the reference raises
at import if SUPABASE_SERVICE_KEY is unset, :17-18; SURVEY §3 EP3
explicitly forbids replicating that).

Orchestration (reference op O1, .github/workflows/etl.yml:4-28): the
reference's only execution mode is a daily GitHub Actions cron running
`python etl_supabase.py` with SUPABASE_URL / SUPABASE_SERVICE_KEY from
repo secrets. The engine-side counterpart here is a scheduler-facing
CLI — ``python -m supabase_etl_spark.plans.pipeline`` — with the same
env contract resolved at *run* time (:func:`config_from_env`), plus an
incremental `Trigger.AvailableNow` variant
(:func:`run_pipeline_incremental`) that drains only files that arrived
since the last checkpoint, which is what a daily 100 TB ingest actually
wants. See docs/ORCHESTRATION.md for cron / workflow stanzas.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from supabase_etl_spark.functions.packing import to_jsonb_records
from supabase_etl_spark.io.rest_sink import RestSinkConfig, upload_to_storage, upsert_rest
from supabase_etl_spark.io.writers import write_csv


@dataclass
class PipelineConfig:
    """One pipeline run: named sources -> jsonb-records -> sinks.

    sources: {table_name: callable(spark) -> DataFrame} — pluggable so
    an SDK/REST extract (ref S1) and a parquet scan share the driver.
    """

    sources: dict[str, Callable[[SparkSession], DataFrame]]
    csv_dir: str | None = None
    rest_base_url: str | None = None
    rest_api_key: str = ""
    storage_base_url: str | None = None
    storage_bucket: str = "processed-data"
    chunk_size: int = 300  # ref parity (etl_supabase.py:71)


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, dict]:
    """Extract → transform → load for every configured source table.

    Returns per-table metrics: rows transformed, the CSV directory, the
    REST sink's delivered rows, batches and retries, the storage object.
    Each table's source is read once: the sinks share its persisted
    records.
    """
    report: dict[str, dict] = {}
    for table, source_fn in cfg.sources.items():
        metrics: dict = {}
        raw = source_fn(spark)

        records = to_jsonb_records(raw).persist()
        try:
            # Counting the plan's rows fills the cache in one job;
            # DataFrame.count() adds an aggregate shuffle: two jobs.
            metrics["rows"] = records._jdf.queryExecution().toRdd().count()
            if cfg.csv_dir:
                csv_path = os.path.join(cfg.csv_dir, table)
                write_csv(records, csv_path, single_file=True)
                metrics["csv_path"] = csv_path

            if cfg.rest_base_url:
                sink_cfg = RestSinkConfig(
                    base_url=cfg.rest_base_url,
                    table=table,
                    api_key=cfg.rest_api_key,
                    chunk_size=cfg.chunk_size,
                )
                metrics["rest"] = upsert_rest(records, sink_cfg, json_columns=("data",))

            if cfg.storage_base_url and cfg.csv_dir:
                csv_part = next(
                    f
                    for f in os.listdir(metrics["csv_path"])
                    if f.endswith(".csv") and not f.startswith(".")
                )
                local = os.path.join(metrics["csv_path"], csv_part)
                remote = f"etl/{table}.csv"
                upload_to_storage(
                    local,
                    remote,
                    cfg.storage_base_url,
                    bucket=cfg.storage_bucket,
                    api_key=cfg.rest_api_key,
                )
                metrics["storage_object"] = remote
        finally:
            records.unpersist()

        report[table] = metrics
    return report


def sdk_sources(tickers: str = "FPT") -> dict[str, Callable[[SparkSession], DataFrame]]:
    """Reference-shaped sources: one table per (ticker, statement), e.g.
    fpt_income_statement / fpt_balance_sheet / fpt_cash_flow for the
    reference's single-ticker run (etl_supabase.py:115-119, :145-147),
    extracted through the partitioned SDK read (op S1). Each table
    reads only its own statement: one partition, one SDK call."""
    from supabase_etl_spark.io.sdk_source import STATEMENTS, read_statements

    return {
        f"{ticker.lower()}_{stmt}": (
            lambda spark, ticker=ticker, stmt=stmt: read_statements(
                spark, (ticker,), (stmt,)
            ).drop("statement")
        )
        for ticker in tickers.split(",")
        for stmt in STATEMENTS
    }


def config_from_env(
    env: dict[str, str] | None = None,
    csv_dir: str | None = None,
    tickers: str = "FPT",
    with_rest: bool = True,
) -> PipelineConfig:
    """Build a run config from the reference's env contract
    (SUPABASE_URL + SUPABASE_SERVICE_KEY, etl.yml:11-13; REST/storage
    base URLs derived as in etl_supabase.py:20-21).

    Fail-fast happens HERE — at run construction — not at module import
    (the reference raises on import, etl_supabase.py:17-18, which makes
    the module untestable without secrets; SURVEY §3 EP3)."""
    env = env if env is not None else dict(os.environ)
    url = env.get("SUPABASE_URL")
    key = env.get("SUPABASE_SERVICE_KEY")
    if with_rest:
        if not url:
            raise RuntimeError("missing SUPABASE_URL in environment")
        if not key:
            raise RuntimeError("missing SUPABASE_SERVICE_KEY in environment")
    return PipelineConfig(
        sources=sdk_sources(tickers),
        csv_dir=csv_dir,
        rest_base_url=f"{url.rstrip('/')}/rest/v1" if with_rest else None,
        rest_api_key=key or "",
        storage_base_url=f"{url.rstrip('/')}/storage/v1" if (with_rest and csv_dir) else None,
    )


def run_pipeline_incremental(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
) -> dict[str, int]:
    """Incremental batch ingest of the events table: Structured
    Streaming file source + ``Trigger.AvailableNow`` + a **persistent**
    checkpoint. Each invocation processes exactly the files that
    arrived since the previous run, appends them to the parquet target,
    and stops — the engine-side counterpart of the reference's daily
    cron re-run (etl.yml:4-6), with exactly-once file bookkeeping
    instead of blind re-extraction. Returns rows ingested this run."""
    from supabase_etl_spark.streaming.source import read_events_stream

    sdf = read_events_stream(spark, source_dir, glob="*.parquet")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sum(int(p["numInputRows"]) for p in q.recentProgress)
    return {"rows_ingested": rows}


def main(argv: list[str] | None = None) -> int:
    """Scheduler entry point: ``python -m supabase_etl_spark.plans.pipeline``.

    Mirrors the reference's cron-invoked `python etl_supabase.py`
    (etl.yml:26-28) — config from env, one JSON report line on stdout,
    non-zero exit on failure (so cron/Actions alerting fires)."""
    parser = argparse.ArgumentParser(prog="supabase_etl_spark.plans.pipeline")
    parser.add_argument("--tickers", default="FPT")
    parser.add_argument("--csv-dir", default=None)
    parser.add_argument(
        "--dry-run",
        action="store_true",
        help="extract+transform+CSV only; skip REST/storage (no secrets needed)",
    )
    parser.add_argument(
        "--incremental-events",
        metavar="SOURCE_DIR",
        default=None,
        help="run the AvailableNow incremental events ingest instead of the ETL",
    )
    parser.add_argument("--checkpoint", default=None, help="checkpoint dir (incremental)")
    parser.add_argument("--output", default=None, help="output dir (incremental)")
    args = parser.parse_args(argv)

    from supabase_etl_spark.session import get_spark

    spark = get_spark("etl-pipeline")
    if args.incremental_events:
        if not (args.checkpoint and args.output):
            parser.error("--incremental-events requires --checkpoint and --output")
        report = run_pipeline_incremental(
            spark, args.incremental_events, args.checkpoint, args.output
        )
    else:
        cfg = config_from_env(
            csv_dir=args.csv_dir, tickers=args.tickers, with_rest=not args.dry_run
        )
        report = run_pipeline(spark, cfg)
    print(json.dumps(report, ensure_ascii=False), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
