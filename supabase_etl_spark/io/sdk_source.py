"""SDK/REST extraction (reference op S1).

The reference pulls three financial-statement tables for one ticker
through the vnstock SDK on the driver (etl_supabase.py:115-119) —
single-threaded, unpartitioned. `read_statements` turns the same
extraction into a partitioned Spark read: a Range leaf with one
partition per (ticker, statement), each partition's SDK call running
inside `mapInArrow` on the executor, so a 500-ticker backfill fans out
across executors (SURVEY §4.2 "vnstock-style SDK source"). Its
`statements` argument limits the fetch to the named statements, so a
one-statement table is one partition and one SDK call. The batch read
is not a Python Data Source: Spark's data-source planner runs its
`create_data_source` / `plan_data_source_read` steps in fresh Python
workers that bypass the engine's worker daemon, which cost more than
the fetch itself.

The incremental variant stays a Spark-4 Python Data Source
(`spark.readStream.format("financial_statements")`, registered by
`register`): its offsets are checkpointed years.

Re-implementing vnstock is a non-goal (SURVEY §7.3); the fetch is a
deterministic synthetic generator with the reference's wide shape —
Vietnamese year column 'Năm', ticker column 'CP', metric columns —
so the dynamic-column-discovery transforms (ref T1/T3/T5/T6) have the
real thing to chew on. Swap `_fetch` for the SDK call in production;
partitioning, schema, and execution shape stay identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

STATEMENTS = ("income_statement", "balance_sheet", "cash_flow")
METRICS = ("doanh_thu", "loi_nhuan", "tai_san", "no_phai_tra", "von_chu_so_huu")

SCHEMA = (
    "`CP` string, `Năm` int, statement string, "
    + ", ".join(f"`{m}` double" for m in METRICS)
)


def _fetch(ticker: str, statement: str, years: range):
    """Deterministic stand-in for the SDK call (LCG per cell). Executed
    on the executor that owns the (ticker, statement) partition."""
    rows = []
    for year in years:
        seed = hash_key = 0
        for part in (ticker, statement, str(year)):
            for ch in part:
                hash_key = (hash_key * 31 + ord(ch)) % 1_000_000_007
        vals = []
        seed = hash_key
        for _ in METRICS:
            seed = (1103515245 * seed + 12345) % 2_147_483_648
            vals.append(round(seed / 2_147_483_648 * 1e9, 2))
        rows.append((ticker, year, statement, *vals))
    return rows


def read_statements(
    spark: SparkSession,
    tickers: Sequence[str],
    statements: Sequence[str] = STATEMENTS,
    start: int = 2019,
    end: int = 2024,
) -> DataFrame:
    """The named statements of every ticker for years start..end, as
    SCHEMA rows: one partition per (ticker, statement), in STATEMENTS
    order within a ticker. An unknown statement raises ValueError here,
    before any job runs."""
    unknown = set(statements) - set(STATEMENTS)
    if unknown:
        raise ValueError(f"unknown statements {sorted(unknown)}; expected some of {STATEMENTS}")
    specs = [(t, s) for t in tickers for s in STATEMENTS if s in statements]
    years = range(start, end + 1)
    arrow_schema = to_arrow_schema(StructType.fromDDL(SCHEMA))

    def extract(batches):
        import pyarrow as pa

        for batch in batches:
            for i in batch.column(0).to_pylist():
                rows = _fetch(*specs[i], years)
                yield pa.RecordBatch.from_pylist(
                    [dict(zip(arrow_schema.names, row)) for row in rows], schema=arrow_schema
                )

    return spark.range(len(specs), numPartitions=len(specs)).mapInArrow(extract, SCHEMA)


class FinancialStatementsStreamReader(SimpleDataSourceStreamReader):
    """Incremental (streaming) variant of the SDK extract: the offset is
    the last fully-ingested year, so each micro-batch pulls exactly the
    years that appeared since the previous checkpointed offset — the
    reference's daily cron re-pull (etl.yml:4-6) recast as a resumable
    stream. `readBetweenOffsets` replays a committed range
    deterministically for recovery, which the synthetic `_fetch` (and a
    real point-in-time SDK) satisfies."""

    def __init__(self, options):
        self.tickers = options.get("tickers", "FPT").split(",")
        self.start = int(options.get("start_year", "2019"))
        self.end = int(options.get("end_year", "2024"))

    def initialOffset(self) -> dict:
        return {"year": self.start - 1}

    def read(self, start: dict):
        first, last = start["year"] + 1, self.end
        if first > last:
            return iter([]), start
        rows = [
            row
            for y in range(first, last + 1)
            for t in self.tickers
            for s in STATEMENTS
            for row in _fetch(t, s, range(y, y + 1))
        ]
        return iter(rows), {"year": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self.read(start)
        return (r for r in rows if r[1] <= end["year"])


class FinancialStatementsDataSource(DataSource):
    """spark.readStream.format('financial_statements')
    .option('tickers', 'FPT,VNM').load() — incremental by year with
    checkpointed offsets. Batch reads go through `read_statements`."""

    @classmethod
    def name(cls) -> str:
        return "financial_statements"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return FinancialStatementsStreamReader(self.options)


def register(spark) -> None:
    """Register the source on ``spark``'s session unless it already is:
    registering again re-pickles the class and makes Spark log a
    "replaced a previously registered data source" warning."""
    name = FinancialStatementsDataSource.name()
    if spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists(name):
        return
    spark.dataSource.register(FinancialStatementsDataSource)
