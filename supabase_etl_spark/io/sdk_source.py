"""Custom Python Data Source for SDK/REST extraction (reference op S1).

The reference pulls three financial-statement tables for one ticker
through the vnstock SDK on the driver (etl_supabase.py:115-119) —
single-threaded, unpartitioned. The Spark-4 Python Data Source API
(`spark.dataSource.register`) turns the same extraction into a real
source: one InputPartition per (ticker, statement) so a 500-ticker
backfill fans out across executors (SURVEY §4.2 "vnstock-style SDK
source"), with the SDK call happening inside `read()` on the executor.
The batch reader's `statements` option (comma-separated, default all
three) limits the fetch to the named statements, so a one-statement
table plans one partition per ticker and makes one SDK call.

Re-implementing vnstock is a non-goal (SURVEY §7.3); the fetch is a
deterministic synthetic generator with the reference's wide shape —
Vietnamese year column 'Năm', ticker column 'CP', metric columns —
so the dynamic-column-discovery transforms (ref T1/T3/T5/T6) have the
real thing to chew on. Swap `_fetch` for the SDK call in production;
partitioning, schema, and execution shape stay identical.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

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


def _statements(options) -> tuple[str, ...]:
    """The `statements` option as a tuple in STATEMENTS order (all three
    when unset); an unknown name fails at planning time."""
    wanted = options.get("statements")
    if wanted is None:
        return STATEMENTS
    names = set(wanted.split(","))
    unknown = names - set(STATEMENTS)
    if unknown:
        raise ValueError(f"unknown statements {sorted(unknown)}; expected some of {STATEMENTS}")
    return tuple(s for s in STATEMENTS if s in names)


class FinancialStatementsReader(DataSourceReader):
    def __init__(self, options):
        self.tickers = options.get("tickers", "FPT").split(",")
        self.statements = _statements(options)
        self.start = int(options.get("start_year", "2019"))
        self.end = int(options.get("end_year", "2024"))

    def partitions(self):
        return [
            InputPartition((t, s)) for t in self.tickers for s in self.statements
        ]

    def read(self, partition):
        ticker, statement = partition.value
        yield from _fetch(ticker, statement, range(self.start, self.end + 1))


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
    """spark.read.format('financial_statements')
    .option('tickers', 'FPT,VNM').option('statements', 'cash_flow')
    .load()  — batch; or
    spark.readStream.format('financial_statements').load() — incremental
    by year with checkpointed offsets."""

    @classmethod
    def name(cls) -> str:
        return "financial_statements"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return FinancialStatementsReader(self.options)

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
