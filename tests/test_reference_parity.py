"""Reference-parity pitfalls as table-driven tests (SURVEY §2.3 / §5.2.3).

Fixture B1 from FIXTURES.md: wide, yearly, Vietnamese-named frames in
the vnstock shape (etl_supabase.py:117-119), covering:
  1. truthy-`or` ticker fallback  (:59)
  2. first-match-wins year discovery (:43-47)
  3. NaN → null normalization     (:50, :57)
  4. unicode column names survive  (:45, :136)
  5. year absent → null            (:50)
"""

from __future__ import annotations

import json
import math

import pytest

from supabase_etl_spark.functions.nulls import truthy_coalesce
from supabase_etl_spark.functions.packing import (
    discover_column_ci,
    exclusion_project,
    to_jsonb_records,
)


@pytest.fixture(scope="module")
def fin_df(spark):
    """Variant (a): 'Năm' only, unicode metric names, CP quirks, NaN."""
    rows = [
        ("FPT", 2020, 100.5, 20.1),
        ("", 2021, float("nan"), 21.0),   # empty CP -> fallback
        (None, 2022, 102.0, None),        # null CP -> fallback
        ("VNM", None, 103.0, 23.0),       # null year survives as null
    ]
    return spark.createDataFrame(
        rows, "CP string, `Năm` int, `Doanh thu (Tỷ đồng)` double, `Lợi nhuận sau thuế` double"
    )


def test_year_discovery_unicode(fin_df):
    assert discover_column_ci(fin_df) == "Năm"


def test_year_discovery_first_match_wins(spark):
    both = spark.createDataFrame([(2020, 1999, "x")], "`Năm` int, year int, v string")
    assert discover_column_ci(both) == "Năm"  # column order decides (ref :43-47)
    reversed_cols = both.select("year", "Năm", "v")
    assert discover_column_ci(reversed_cols) == "year"


def test_year_discovery_absent(spark):
    df = spark.createDataFrame([("a", 1.0)], "name string, v double")
    assert discover_column_ci(df) is None
    out = to_jsonb_records(df).collect()
    assert all(r["year"] is None for r in out)


def test_truthy_ticker_fallback(spark):
    df = spark.createDataFrame(
        [("FPT", "AAA"), ("", "BBB"), (None, "CCC"), ("", None), (None, None)],
        "CP string, ticker string",
    )
    out = df.select(
        truthy_coalesce("CP", "ticker", default="FPT", df=df).alias("t")
    ).collect()
    assert [r["t"] for r in out] == ["FPT", "BBB", "CCC", "FPT", "FPT"]


def test_truthy_numeric_zero_falls_through(spark):
    df = spark.createDataFrame([(0, 7), (3, 9)], "a int, b int")
    out = df.select(truthy_coalesce("a", "b", default=-1, df=df).alias("v")).collect()
    assert [r["v"] for r in out] == [7, 3]


def test_truthy_string_zero_is_truthy(spark):
    # '0' as a STRING is truthy in Python — must NOT fall through
    df = spark.createDataFrame([("0", "X")], "a string, b string")
    out = df.select(truthy_coalesce("a", "b", default="D", df=df).alias("v")).collect()
    assert out[0]["v"] == "0"


def test_jsonb_records_shape_and_nan(fin_df):
    out = to_jsonb_records(fin_df).collect()
    assert [f.name for f in to_jsonb_records(fin_df).schema.fields] == ["ticker", "year", "data"]
    by_year = {r["year"]: r for r in out}
    assert by_year[2020]["ticker"] == "FPT"
    assert by_year[2021]["ticker"] == "FPT"  # '' fell through
    assert by_year[2022]["ticker"] == "FPT"  # null fell through
    assert None in by_year and by_year[None]["ticker"] == "VNM"

    data_2021 = json.loads(by_year[2021]["data"])
    assert data_2021["Doanh thu (Tỷ đồng)"] is None  # NaN -> null (ref :57)
    assert data_2021["Lợi nhuận sau thuế"] == 21.0
    data_2022 = json.loads(by_year[2022]["data"])
    assert data_2022["Lợi nhuận sau thuế"] is None  # real null kept explicit

    # excluded keys never leak into the payload (ref :54-56)
    for r in out:
        payload = json.loads(r["data"])
        assert not {k.lower() for k in payload} & {"cp", "ticker", "năm", "year"}


def test_exclusion_project_case_insensitive(spark):
    df = spark.createDataFrame([(1, "a", 2.0, "t")], "YEAR int, name string, v double, Cp string")
    out = exclusion_project(df)
    assert out.columns == ["name", "v"]


def test_unicode_payload_keys_survive(fin_df):
    out = to_jsonb_records(fin_df).limit(1).collect()[0]
    payload = json.loads(out["data"])
    assert "Doanh thu (Tỷ đồng)" in payload
    assert "Lợi nhuận sau thuế" in payload


def test_map_payload(fin_df):
    out = to_jsonb_records(fin_df, payload="map").collect()
    row = next(r for r in out if r["year"] == 2020)
    assert row["data"]["Doanh thu (Tỷ đồng)"] == "100.5"


def test_nan_vs_null_distinction(spark):
    from supabase_etl_spark.functions.nulls import nan_to_null_all

    df = spark.createDataFrame([(float("nan"),), (1.5,), (None,)], "v double")
    vals = [r["v"] for r in nan_to_null_all(df).collect()]
    assert vals.count(None) == 2 and 1.5 in vals
    assert not any(isinstance(v, float) and math.isnan(v) for v in vals)


def test_nan_to_null_all_keeps_schema_and_values(spark):
    from pyspark.sql import types as T

    from supabase_etl_spark.functions.nulls import nan_to_null_all

    schema = T.StructType([
        T.StructField("f", T.FloatType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("Doanh thu", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
    ])
    df = spark.createDataFrame(
        [(float("nan"), 1, 2.5, "a"), (1.5, 2, float("nan"), None)], schema
    )
    out = nan_to_null_all(df)
    assert out.columns == df.columns
    assert [(f.dataType, f.nullable) for f in out.schema.fields] == [
        (T.FloatType(), True),  # a NaN may become null
        (T.IntegerType(), False),
        (T.DoubleType(), True),
        (T.StringType(), True),
    ]
    assert sorted(out.collect(), key=lambda r: r["i"]) == [
        (None, 1, 2.5, "a"),
        (1.5, 2, None, None),
    ]
