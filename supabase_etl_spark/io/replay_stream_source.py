"""Python Data Source STREAM READER (full ``DataSourceStreamReader``):
a partitioned parquet-replay stream.

Completes the Python Data Source API surface alongside the
SimpleDataSourceStreamReader (io/sdk_source.py — reads on the DRIVER,
right for a low-volume API feed) and the DSv2-protocol writer and
batch reader (io/jsonl_sink_source.py). The full stream-reader API is
the one that matters at scale: the driver only PLANS (offset range →
row-aligned InputPartitions); the actual reads run ON EXECUTORS, one partition
each, in parallel — a 100 TB backfill replay is planner-cheap and
scales with the cluster, which a driver-side Simple reader can never
do.

Offsets are ROW positions into a parquet file's global row order.
``read`` prunes to the row groups intersecting its slice — per-task
I/O is proportional to the rows it owns (+ at most two boundary row
groups), the same row-group-pruning argument any parquet scan makes.

Lifecycle exercised: initialOffset → latestOffset → partitions →
executor read → commit(end) per microbatch; checkpoint restart resumes
from the committed offset (pinned by tests/test_replay_stream.py).

Options:
    path     parquet file to replay (required)
    columns  comma-separated projection (required — keeps the
             arrow→python type bridge to exactly the columns asked)
    rows_per_partition   partition granularity (default 1000)
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_ARROW_TO_DDL = {
    "int64": "bigint",
    "int32": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
}


def _projected_schema(path: str, columns: list[str]) -> str:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    parts = []
    for c in columns:
        t = str(schema.field(c).type)
        if t not in _ARROW_TO_DDL:
            raise ValueError(
                f"column {c} has unsupported type {t}; project it away"
            )
        parts.append(f"{c} {_ARROW_TO_DDL[t]}")
    return ", ".join(parts)


class _RowRange(InputPartition):
    def __init__(self, path: str, columns: list[str], start: int, end: int):
        self.path = path
        self.columns = columns
        self.start = start
        self.end = end


class ParquetReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]
        self.columns = [c.strip() for c in options["columns"].split(",")]
        self.rows_per_partition = int(options.get("rows_per_partition", 1000))
        import pyarrow.parquet as pq

        # driver-side METADATA probe (footer only, no data I/O)
        self.total_rows = pq.ParquetFile(self.path).metadata.num_rows

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        # everything in the file is available; AvailableNow drains to
        # here and stops, a running query idles once it catches up
        return {"row": self.total_rows}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["row"], end["row"]
        step = self.rows_per_partition
        return [
            _RowRange(self.path, self.columns, s, min(s + step, hi))
            for s in range(lo, hi, step)
        ] or [_RowRange(self.path, self.columns, lo, lo)]

    def read(self, partition: _RowRange):
        # EXECUTOR-side: open the file, touch only row groups that
        # intersect [start, end), slice to the exact row range
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        first = 0
        groups, g_start = [], None
        for g in range(pf.metadata.num_row_groups):
            n = pf.metadata.row_group(g).num_rows
            if first < partition.end and first + n > partition.start:
                if g_start is None:
                    g_start = first
                groups.append(g)
            first += n
        if not groups:
            return iter(())
        tbl = pf.read_row_groups(groups, columns=partition.columns)
        offset = partition.start - g_start
        tbl = tbl.slice(offset, partition.end - partition.start)
        cols = [tbl.column(c).to_pylist() for c in partition.columns]
        return iter(zip(*cols))

    def commit(self, end: dict) -> None:
        pass  # progress lives in the checkpoint; nothing external to ack

    def stop(self) -> None:
        pass


class ParquetReplayDataSource(DataSource):
    """spark.read... format "parquet_replay" — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "parquet_replay"

    def schema(self) -> str:
        return _projected_schema(
            self.options["path"],
            [c.strip() for c in self.options["columns"].split(",")],
        )

    def streamReader(self, schema) -> DataSourceStreamReader:
        return ParquetReplayStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ParquetReplayDataSource)


def read_replay_stream(
    spark, path: str, columns: list[str], rows_per_partition: int = 1000
):
    register(spark)
    return (
        spark.readStream.format("parquet_replay")
        .option("path", path)
        .option("columns", ",".join(columns))
        .option("rows_per_partition", rows_per_partition)
        .load()
    )
