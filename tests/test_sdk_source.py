"""SDK source (reference S1) contract tests: the batch read
(`read_statements`) and the streaming Python Data Source."""

from __future__ import annotations

import ast
import json
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from supabase_etl_spark.io.sdk_source import (
    METRICS,
    SCHEMA,
    STATEMENTS,
    _fetch,
    read_statements,
    register,
)


def test_partitions_fan_out_per_ticker_statement(spark):
    df = read_statements(spark, ("FPT", "VNM"), start=2020, end=2021)
    assert df.rdd.getNumPartitions() == 2 * len(STATEMENTS)
    held = {}
    for r in df.select(F.spark_partition_id().alias("p"), "CP", "statement").collect():
        held.setdefault(r["p"], set()).add((r["CP"], r["statement"]))
    assert sorted(held) == list(range(2 * len(STATEMENTS)))
    assert all(len(pairs) == 1 for pairs in held.values())
    assert set.union(*held.values()) == {(t, s) for t in ("FPT", "VNM") for s in STATEMENTS}


def test_statements_option_limits_partitions_and_rows(spark):
    df = read_statements(spark, ("FPT",), ("cash_flow",))
    assert df.rdd.getNumPartitions() == 1
    assert {r["statement"] for r in df.collect()} == {"cash_flow"}
    # the call itself raises: no action has been asked for, so no job ran
    with pytest.raises(ValueError, match="unknown statements"):
        read_statements(spark, ("FPT",), ("cashflow",))


def test_empty_year_range_keeps_schema(spark):
    df = read_statements(spark, ("FPT",), start=2025, end=2024)
    assert df.collect() == []
    assert df.schema == StructType.fromDDL(SCHEMA)


def test_rows_equal_fetch(spark):
    tickers, years = ("FPT", "VNM"), range(2019, 2025)
    got = [tuple(r) for r in read_statements(spark, tickers).collect()]
    assert got == [row for t in tickers for s in STATEMENTS for row in _fetch(t, s, years)]


def test_sdk_table_plan_has_no_python_data_source(spark):
    """The pipeline's SDK tables read a Range leaf through mapInArrow:
    no BatchScan, so Spark's Python data-source planner never runs."""
    from supabase_etl_spark.plans.pipeline import sdk_sources

    df = sdk_sources("FPT")["fpt_cash_flow"](spark)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" not in plan and "(Python)" not in plan, plan
    assert "MapInArrow" in plan and "Range" in plan, plan
    assert df.rdd.getNumPartitions() == 1


def test_batch_sdk_read_has_one_path():
    """Batch SDK reads go through read_statements: nothing under the
    package batch-reads the financial_statements data source, and the
    data source defines no batch reader (readStream stays)."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "supabase_etl_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
                and any(
                    isinstance(a, ast.Constant) and a.value == "financial_statements"
                    for a in node.args
                )
            ):
                offenders.append(f"{path.name}:{node.lineno}")
            if (
                isinstance(node, ast.ClassDef)
                and node.name == "FinancialStatementsDataSource"
                and any(
                    isinstance(f, ast.FunctionDef) and f.name == "reader" for f in node.body
                )
            ):
                offenders.append(f"{path.name}:{node.lineno} reader")
    assert not offenders, offenders


def test_register_skips_an_already_registered_source(spark, monkeypatch):
    register(spark)
    calls = []
    monkeypatch.setattr(type(spark.dataSource), "register", lambda self, ds: calls.append(ds))
    register(spark)
    assert calls == []


def test_fetch_is_deterministic():
    a = _fetch("FPT", "balance_sheet", range(2020, 2023))
    b = _fetch("FPT", "balance_sheet", range(2020, 2023))
    assert a == b
    assert len(a) == 3
    assert a[0][0] == "FPT" and a[0][1] == 2020 and a[0][2] == "balance_sheet"
    assert all(isinstance(v, float) for v in a[0][3:])


def test_source_reads_vnstock_shape(spark):
    df = read_statements(spark, ("FPT", "VNM"), start=2022, end=2023)
    assert df.columns[:3] == ["CP", "Năm", "statement"]
    rows = df.collect()
    assert len(rows) == 2 * len(STATEMENTS) * 2  # tickers x statements x years
    assert {r["CP"] for r in rows} == {"FPT", "VNM"}
    assert df.rdd.getNumPartitions() == 2 * len(STATEMENTS)


def test_source_through_reference_transform(spark):
    from supabase_etl_spark.functions.packing import to_jsonb_records

    wide = read_statements(spark, ("FPT",), start=2024, end=2024)
    recs = to_jsonb_records(wide).collect()
    assert len(recs) == len(STATEMENTS)
    for r in recs:
        assert r["ticker"] == "FPT" and r["year"] == 2024
        data = json.loads(r["data"])
        # year/ticker excluded, statement + metrics packed
        assert set(data) == {"statement", *METRICS}


def test_streaming_sdk_source_incremental_years(spark, tmp_path):
    """The streaming SDK source drains all configured years on the
    first AvailableNow run, then a widened end_year with the SAME
    checkpoint delivers only the new years — the reference's daily
    cron re-pull with exactly-once offset bookkeeping."""
    from supabase_etl_spark.io.sdk_source import STATEMENTS, register

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain(end_year: int) -> None:
        s = (
            spark.readStream.format("financial_statements")
            .option("tickers", "FPT")
            .option("start_year", "2020")
            .option("end_year", str(end_year))
            .load()
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(2021)
    got = spark.read.parquet(out)
    # 2 years x 3 statements x 1 row/year-statement
    assert got.count() == 2 * len(STATEMENTS)
    assert {r["Năm"] for r in got.select("Năm").collect()} == {2020, 2021}

    drain(2023)  # same checkpoint: only 2022-2023 arrive
    got2 = spark.read.parquet(out)
    assert got2.count() == 4 * len(STATEMENTS)
    assert {r["Năm"] for r in got2.select("Năm").collect()} == {2020, 2021, 2022, 2023}
