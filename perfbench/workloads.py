"""The benchmark's two workloads.

``queries`` runs registry rows through the default registry path:
``spec.fn`` (build) then a noop write (action).
``etl_daily`` runs ``plans.pipeline.run_pipeline`` with CSV, REST and
storage sinks against the benchmark's own mock endpoint.

Every workload has the same surface: ``prepare`` (inputs on disk),
``warm_inputs`` (the part of set-up that touches inputs), ``check``
(one untimed pass whose outputs are compared with ``expected.json``)
and ``run_pass`` (one timed pass; returns each operation's span).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from harness import WORK, Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")


def data_dir(sf: float) -> str:
    """The tables at ``sf``: committed copies of the repository's seed-42
    fixtures (TESTDATA.md), only the tables the workloads read. Table
    contents are fixed; ``--seed`` varies the order and the ticker."""
    return os.path.join(HERE, "data", f"sf{sf:g}")


def table_rows(sf: float, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(data_dir(sf), f"{table}.parquet")).metadata.num_rows


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def result_hash(columns, rows) -> str:
    """Hash of the canonical result the correctness gate compares
    (columns sorted by name, rows sorted, values stringified)."""
    from scripts.check_correctness import canon_rows

    cols, lines = canon_rows(list(columns), rows)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for line in lines:
        h.update(b"\n" + "\x1f".join(line).encode())
    return h.hexdigest()


# --- query workloads ---------------------------------------------------

class QueryWorkload:
    name = "queries"

    # The check pass collects while timed passes write, and the sf0.001
    # rows' walls kept falling by a third over the first two passes.
    warmup_passes = 1

    def __init__(self, rows) -> None:
        self.rows = {name: sf for name, sf, _ in rows}
        self.inputs = {(sf, table) for _, sf, tables in rows for table in tables}
        self.dirs: dict[float, str] = {}
        self.registry: dict = {}

    def prepare(self, seed: int) -> None:
        from supabase_etl_spark.queries import load_all

        self.dirs = {sf: data_dir(sf) for sf in sorted(set(self.rows.values()))}
        self.registry = load_all()
        self.rng = random.Random(seed)

    def warm_inputs(self, spark) -> None:
        from supabase_etl_spark.io.readers import load_table

        for sf, table in sorted(self.inputs):
            load_table(spark, self.dirs[sf], table)

    def build(self, spark, name: str):
        return self.registry[name].fn(spark, self.dirs[self.rows[name]])

    def ops(self) -> list[str]:
        order = list(self.rows)
        self.rng.shuffle(order)
        return order

    def delivered_rows(self, endpoint_stats: dict, passes: int) -> float:
        """Rows one pass delivers: the rows' result rows (fixed; checked
        against ``expected.json`` on the check pass)."""
        expected = load_expected()["rows"]
        return sum(expected[r]["rows"] for r in self.rows)

    def check(self, spark, problems: list[str]) -> int:
        """Untimed pass: collect every row's result and compare its hash
        with the committed one. Returns operations attempted."""
        expected = load_expected()["rows"]
        for name in self.ops():
            try:
                df = self.build(spark, name)
                got = result_hash(df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # a failing row is a result, not a crash
                problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            finally:
                spark.catalog.clearCache()
            if got != expected[name]["sha256"]:
                problems.append(f"{name}: result hash {got[:12]} != expected "
                                f"{expected[name]['sha256'][:12]}")
        return len(self.rows)

    def run_pass(self, spark, tracer: Tracer, problems: list[str]) -> dict[str, Span]:
        spans = {}
        for name in self.ops():
            tracer.begin(name)
            try:
                with tracer.span("build"):
                    df = self.build(spark, name)
                with tracer.span("action"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                tracer.end()
                continue
            spans[name] = tracer.end()
            spark.catalog.clearCache()
        return spans


# --- etl_daily ---------------------------------------------------------

# Tickers the seed draws the SDK extract's ticker from.
TICKER_POOL = ("FPT", "VNM", "HPG", "VCB", "MWG", "SSI", "VIC", "MSN", "GAS", "TCB", "MBB")
SDK_YEARS = 6  # sdk_source's default range, 2019..2024
BULK_TABLES = ("lineitem",)


class EtlWorkload:
    name = "etl_daily"
    warmup_passes = 0  # the check pass runs the same pipeline code

    def __init__(self, sf: float) -> None:
        self.sf = sf
        self.endpoint = None
        self.pass_batches: list[int] = []  # REST batches the sink reported, per pass

    def prepare(self, seed: int) -> None:
        from supabase_etl_spark.io.sdk_source import STATEMENTS

        self.dir = data_dir(self.sf)
        self.rng = random.Random(seed)
        self.ticker = self.rng.choice(TICKER_POOL)
        self.expected_rows = {t: table_rows(self.sf, t) for t in BULK_TABLES}
        for stmt in STATEMENTS:
            self.expected_rows[f"{self.ticker.lower()}_{stmt}"] = SDK_YEARS
        self.csv_dir = os.path.join(WORK, "etl_csv")
        shutil.rmtree(self.csv_dir, ignore_errors=True)

    def warm_inputs(self, spark) -> None:
        from supabase_etl_spark.io import sdk_source
        from supabase_etl_spark.io.readers import load_table

        sdk_source.register(spark)
        for table in BULK_TABLES:
            load_table(spark, self.dir, table)

    def ops(self) -> list[str]:
        order = list(self.expected_rows)
        self.rng.shuffle(order)
        return order

    def delivered_rows(self, endpoint_stats: dict, passes: int) -> float:
        """Rows one pass delivers: the rows the endpoint acknowledged over
        the timed passes, per pass."""
        return endpoint_stats["rows"] / passes

    def is_bulk(self, table: str) -> bool:
        return table in BULK_TABLES

    def _config(self, tracer: Tracer, spans: dict[str, Span]):
        from supabase_etl_spark.io.readers import load_table
        from supabase_etl_spark.plans.pipeline import PipelineConfig, sdk_sources

        sdk = sdk_sources(self.ticker)
        sources = {}
        current: list[str] = []

        def timed(table, fn):
            # A table's span runs from its source call to the next table's
            # source call (or the end of the pass): run_pipeline handles
            # one table at a time.
            def source(spark):
                if current:
                    spans[current[0]] = tracer.end()
                    current.clear()
                current.append(table)
                tracer.begin(table)
                tracer.begin("build")
                return fn(spark)

            return source

        for table in self.ops():
            if self.is_bulk(table):
                fn = lambda spark, t=table: load_table(spark, self.dir, t)  # noqa: E731
            else:
                fn = sdk[table]
            sources[table] = timed(table, fn)

        def close_last():
            if current:
                spans[current[0]] = tracer.end()
                current.clear()

        cfg = PipelineConfig(
            sources=sources,
            csv_dir=self.csv_dir,
            rest_base_url=f"{self.endpoint.url}/rest/v1",
            rest_api_key="bench",
            storage_base_url=f"{self.endpoint.url}/storage/v1",
        )
        return cfg, close_last

    def _instrument(self, tracer: Tracer):
        """Wrap the sink functions run_pipeline calls so each becomes a
        span. The span between the packed frame's return and the CSV
        write is the row count."""
        from supabase_etl_spark.plans import pipeline

        originals = {n: getattr(pipeline, n) for n in
                     ("to_jsonb_records", "write_csv", "upsert_rest", "upload_to_storage")}

        def pack(*a, **k):
            out = originals["to_jsonb_records"](*a, **k)
            tracer.end()  # build
            tracer.begin("count")
            return out

        def wrap(span_name, fn, close_count=False):
            def inner(*a, **k):
                if close_count:
                    tracer.end()
                with tracer.span(span_name):
                    return fn(*a, **k)
            return inner

        pipeline.to_jsonb_records = pack
        pipeline.write_csv = wrap("csv", originals["write_csv"], close_count=True)
        pipeline.upsert_rest = wrap("rest", originals["upsert_rest"])
        pipeline.upload_to_storage = wrap("storage", originals["upload_to_storage"])
        return lambda: [setattr(pipeline, n, f) for n, f in originals.items()]

    def _run(self, spark, tracer: Tracer, problems: list[str]) -> tuple[dict, dict]:
        from supabase_etl_spark.plans.pipeline import run_pipeline

        spans: dict[str, Span] = {}
        cfg, close_last = self._config(tracer, spans)
        before = self.endpoint.counters.snapshot()["rows_by_table"]
        restore = self._instrument(tracer)
        try:
            report = run_pipeline(spark, cfg)
            close_last()
        except Exception as exc:
            problems.append(f"run_pipeline: {type(exc).__name__}: {str(exc)[:300]}")
            tracer.unwind()
            return {}, {}
        finally:
            restore()
        after = self.endpoint.counters.snapshot()["rows_by_table"]
        self.pass_batches.append(sum(r.get("rest", {}).get("batches", 0) for r in report.values()))
        for table, want in self.expected_rows.items():
            got = report.get(table, {})
            acked = after.get(table, 0) - before.get(table, 0)
            if got.get("rows") != want or got.get("rest", {}).get("rows") != want or acked != want:
                problems.append(f"{table}: rows pipeline={got.get('rows')} "
                                f"rest={got.get('rest', {}).get('rows')} endpoint={acked} "
                                f"expected={want}")
                spans.pop(table, None)
        return spans, report

    def check(self, spark, problems: list[str]) -> int:
        """Untimed pass, plus the CSV checks: per-table row count in the
        CSV and storage object size equal to the CSV file size."""
        _, report = self._run(spark, Tracer(), problems)
        objects = self.endpoint.counters.snapshot()["objects"]
        for table, want in self.expected_rows.items():
            path = report.get(table, {}).get("csv_path")
            if not path:
                continue
            part = next(f for f in os.listdir(path) if f.endswith(".csv"))
            with open(os.path.join(path, part), "rb") as fh:
                csv_rows = sum(1 for _ in fh) - 1
            size = os.path.getsize(os.path.join(path, part))
            stored = objects.get(f"processed-data/etl/{table}.csv")
            if csv_rows != want or stored != size:
                problems.append(f"{table}: csv rows={csv_rows} expected={want}; "
                                f"storage bytes={stored} csv bytes={size}")
        return len(self.expected_rows)

    def run_pass(self, spark, tracer: Tracer, problems: list[str]) -> dict[str, Span]:
        return self._run(spark, tracer, problems)[0]


# Registry rows, the scale each runs at and the tables it reads. The
# sf0.1 rows spend most of their wall in the final action (a scan-bound
# aggregate, a Python UDF); the sf0.001 rows spend it inside spec.fn
# (eager pins, driver collects, fixpoint rounds, a Python codec).
QUERY_ROWS = (
    ("q1_pricing_summary", 0.1, ("lineitem",)),
    ("multimodal_video_frame_stats", 0.1, ("documents",)),
    ("corpus_curate", 0.001, ("documents",)),
    ("multimodal_video_dedup_pipeline_e2e", 0.001, ("documents",)),
)
ETL_SF = 0.01


def make(name: str):
    if name == "queries":
        return QueryWorkload(QUERY_ROWS)
    if name == "etl_daily":
        return EtlWorkload(ETL_SF)
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("etl_daily", "queries")
