"""Python Data Source (reference S1) contract tests."""

from __future__ import annotations

import json

import pytest

from supabase_etl_spark.io.sdk_source import (
    METRICS,
    STATEMENTS,
    FinancialStatementsReader,
    _fetch,
    register,
)


def test_partitions_fan_out_per_ticker_statement():
    r = FinancialStatementsReader({"tickers": "FPT,VNM", "start_year": "2020", "end_year": "2021"})
    parts = [p.value for p in r.partitions()]
    assert len(parts) == 2 * len(STATEMENTS)
    assert ("FPT", "income_statement") in parts
    assert ("VNM", "cash_flow") in parts


def test_statements_option_limits_partitions_and_rows(spark):
    one = FinancialStatementsReader({"tickers": "FPT", "statements": "cash_flow"})
    assert [p.value for p in one.partitions()] == [("FPT", "cash_flow")]
    rows = list(one.read(one.partitions()[0]))
    assert rows and {r[2] for r in rows} == {"cash_flow"}
    with pytest.raises(ValueError, match="unknown statements"):
        FinancialStatementsReader({"statements": "cashflow"})

    register(spark)
    df = (
        spark.read.format("financial_statements")
        .option("tickers", "FPT")
        .option("statements", "cash_flow")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    assert {r["statement"] for r in df.collect()} == {"cash_flow"}


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
    register(spark)
    df = (
        spark.read.format("financial_statements")
        .option("tickers", "FPT,VNM")
        .option("start_year", "2022")
        .option("end_year", "2023")
        .load()
    )
    assert df.columns[:3] == ["CP", "Năm", "statement"]
    rows = df.collect()
    assert len(rows) == 2 * len(STATEMENTS) * 2  # tickers x statements x years
    assert {r["CP"] for r in rows} == {"FPT", "VNM"}
    assert df.rdd.getNumPartitions() == 2 * len(STATEMENTS)


def test_source_through_reference_transform(spark):
    from supabase_etl_spark.functions.packing import to_jsonb_records

    register(spark)
    wide = (
        spark.read.format("financial_statements")
        .option("tickers", "FPT")
        .option("start_year", "2024")
        .option("end_year", "2024")
        .load()
    )
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
