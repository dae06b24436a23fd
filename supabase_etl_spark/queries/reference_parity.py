"""Reference-op queries in the correctness gate (SURVEY §2.1 T1-T7).

The unit-level parity pitfalls live in tests/test_reference_parity.py
against the vnstock-shaped fixture; these queries exercise the same
operators over the driver testdata so they are oracle-checked at
sf0.01 like every other operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supabase_etl_spark.functions.nulls import truthy_coalesce
from supabase_etl_spark.functions.packing import exclusion_project, pack_json, pack_map
from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.queries import query


@query(
    "ref_jsonb_records",
    oracle="""
    SELECT CASE WHEN o_orderstatus <> '' AND o_orderstatus IS NOT NULL
                THEN o_orderstatus ELSE 'FPT' END AS ticker,
           year(o_orderdate) AS year,
           to_json(struct_pack(
               o_orderkey := o_orderkey,
               o_orderpriority := o_orderpriority
           )) AS data
    FROM orders
    ORDER BY CAST(json_extract_string(data, '$.o_orderkey') AS BIGINT)
    """,
    tags=("reference", "pack"),
)
def ref_jsonb_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's record reshape (T7, etl_supabase.py:35-68) over
    orders: (ticker, year, data-json) in one columnar select —
    `iterrows` replaced by whole-stage codegen."""
    o = load_table(spark, sf_dir, "orders")
    payload = o.select("o_orderkey", "o_orderpriority")
    return o.select(
        truthy_coalesce("o_orderstatus", default="FPT", df=o).alias("ticker"),
        F.year("o_orderdate").alias("year"),
        pack_json(payload, exclude_ci=()).alias("data"),
    ).orderBy("o_orderkey")


@query(
    "ref_exclusion_project",
    oracle="""
    SELECT c_name, c_acctbal, c_mktsegment
    FROM customer
    ORDER BY c_name
    """,
    tags=("reference", "project"),
)
def ref_exclusion_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive exclusion projection (T3): keys dropped, the
    open remainder kept — driven by a rename that plants reference-like
    key names (CP / YEAR) in the schema."""
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "CP"
    ).withColumnRenamed("c_nationkey", "YEAR")
    out = exclusion_project(c)  # drops CP + YEAR (ci), keeps the rest
    return out.orderBy("c_name")


@query(
    "ref_truthy_coalesce",
    oracle="""
    SELECT c_custkey,
           CASE WHEN seg <> '' AND seg IS NOT NULL THEN seg
                WHEN c_name <> '' AND c_name IS NOT NULL THEN c_name
                ELSE 'FPT' END AS ticker
    FROM (
        SELECT c_custkey, c_name,
               CASE WHEN c_mktsegment = 'BUILDING' THEN '' ELSE c_mktsegment END AS seg
        FROM customer
    )
    ORDER BY c_custkey
    """,
    tags=("reference", "nulls"),
)
def ref_truthy_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truthy-or fallback (ref :59): '' falls through where plain
    COALESCE would keep it (pitfall SURVEY §2.3.1)."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "seg",
        F.when(F.col("c_mktsegment") == "BUILDING", "").otherwise(F.col("c_mktsegment")),
    )
    return c.select(
        "c_custkey",
        truthy_coalesce("seg", "c_name", default="FPT", df=c).alias("ticker"),
    ).orderBy("c_custkey")


@query(
    "ref_pack_map",
    oracle="""
    SELECT s_suppkey,
           's_acctbal,s_name,s_nationkey' AS data_keys,
           s_name AS name_from_map,
           CAST(s_nationkey AS VARCHAR) AS nation_from_map
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("reference", "pack"),
)
def ref_pack_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema map payload (T5 map flavor): keys listed sorted,
    values extracted back out — proving map round-trip without
    depending on engine-specific map serialization."""
    s = load_table(spark, sf_dir, "supplier")
    data = pack_map(s, exclude_ci=("s_suppkey",))
    return s.select(
        "s_suppkey",
        F.array_join(F.array_sort(F.map_keys(data)), ",").alias("data_keys"),
        F.element_at(data, "s_name").alias("name_from_map"),
        F.element_at(data, "s_nationkey").alias("nation_from_map"),
    ).orderBy("s_suppkey")


def _sdk_oracle_sql() -> str:
    """Expected (ticker, year, data) rows as a VALUES literal, replayed
    from the SAME deterministic LCG the executor-side mock SDK runs
    (io/sdk_source.py:_fetch) — upgrading ref_sdk_source from a
    rows-only check to a full value-hash row. The JSON number format
    is pinned by routing metrics through DECIMAL(18,2) on the Spark
    side (Jackson prints BigDecimal plainly; raw doubles go
    scientific); here the identical quantization is
    Decimal(repr(v)).quantize(0.01, HALF_UP), which matches Spark's
    double→decimal cast (BigDecimal.valueOf = shortest-repr parse,
    then setScale HALF_UP)."""
    from decimal import ROUND_HALF_UP, Decimal

    from supabase_etl_spark.io.sdk_source import METRICS, STATEMENTS, _fetch

    rows = []
    for t in ("FPT", "VNM", "HPG"):
        for s in STATEMENTS:
            for ticker, year, statement, *vals in _fetch(t, s, range(2020, 2025)):
                parts = [f'"statement":"{statement}"']
                for m, v in zip(METRICS, vals):
                    d = Decimal(repr(v)).quantize(
                        Decimal("0.01"), rounding=ROUND_HALF_UP
                    )
                    parts.append(f'"{m}":{d}')
                data = "{" + ",".join(parts) + "}"
                rows.append(f"('{ticker}', {year}, '{data}')")
    values = ",\n        ".join(rows)
    return (
        f"SELECT ticker, year, data FROM (VALUES {values}) "
        "AS t(ticker, year, data) ORDER BY ticker, year, data"
    )


@query("ref_sdk_source", oracle=_sdk_oracle_sql(), tags=("reference", "source"))
def ref_sdk_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op S1 as a partitioned Spark read
    (io/sdk_source.py `read_statements`): one partition per (ticker,
    statement), the SDK fetch running executor-side in `mapInArrow`,
    wide vnstock-shaped frames with Vietnamese year/ticker columns —
    then straight through the
    reference transform (T1 year discovery, T3 exclusion-project, T5
    JSON packing, T6 truthy coalesce) into (ticker, year, data).
    Metrics are cast to DECIMAL(18,2) before packing so the JSON
    number format is engine-portable (plain, two fractional digits);
    the oracle replays the mock SDK's LCG in Python and pins every
    byte of the packed payload (value-hash, not rows-only)."""
    from supabase_etl_spark.functions.packing import to_jsonb_records
    from supabase_etl_spark.io.sdk_source import METRICS, read_statements

    wide = read_statements(spark, ("FPT", "VNM", "HPG"), start=2020, end=2024)
    wide = wide.select(
        "CP",
        "Năm",
        "statement",
        *[F.col(f"`{m}`").cast("decimal(18,2)").alias(m) for m in METRICS],
    )
    records = to_jsonb_records(wide)  # statement stays inside the packed data
    return records.orderBy("ticker", "year", "data")


def _sdk_stream_oracle_sql() -> str:
    """Expected full drain of the STREAMING SDK source (all years
    2020-2024, every ticker x statement) as a VALUES literal — same
    LCG replay discipline as `_sdk_oracle_sql`, but over the wide
    frame the stream emits (no JSON packing: the stream's own rows
    are the contract under test)."""
    from decimal import ROUND_HALF_UP, Decimal

    from supabase_etl_spark.io.sdk_source import METRICS, STATEMENTS, _fetch

    rows = []
    for t in ("FPT", "VNM"):
        for s in STATEMENTS:
            for ticker, year, statement, *vals in _fetch(t, s, range(2021, 2025)):
                cells = [f"'{ticker}'", str(year), f"'{statement}'"]
                for v in vals:
                    d = Decimal(repr(v)).quantize(
                        Decimal("0.01"), rounding=ROUND_HALF_UP
                    )
                    cells.append(f"CAST({d} AS DECIMAL(18,2))")
                rows.append("(" + ", ".join(cells) + ")")
    values = ",\n        ".join(rows)
    cols = ", ".join(["ticker", "year", "statement"] + [f"m_{m}" for m in METRICS])
    return (
        f"SELECT * FROM (VALUES {values}) AS t({cols}) "
        "ORDER BY ticker, statement, year"
    )


@query(
    "ref_sdk_stream_source",
    oracle=_sdk_stream_oracle_sql(),
    tags=("reference", "source", "streaming"),
)
def ref_sdk_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the SDK source (io/sdk_source.py
    `SimpleDataSourceStreamReader`): offsets are last-ingested years,
    an AvailableNow run drains exactly the configured year range in
    per-year increments, and the drained rows — the source's whole
    output contract — are value-hashed against the LCG replay. This
    upgrades the last rows-only reference op to a full hash row
    (restart/replay semantics stay pinned in tests/test_sdk_source.py)."""
    from supabase_etl_spark.io.sdk_source import METRICS, register
    from supabase_etl_spark.streaming.source import run_available_now

    register(spark)
    wide = (
        spark.readStream.format("financial_statements")
        .option("tickers", "FPT,VNM")
        .option("start_year", "2021")
        .option("end_year", "2024")
        .load()
    )
    out = wide.select(
        F.col("CP").alias("ticker"),
        F.col("Năm").alias("year"),
        "statement",
        *[F.col(f"`{m}`").cast("decimal(18,2)").alias(f"m_{m}") for m in METRICS],
    )
    sink = run_available_now(out, "append")
    return sink.orderBy("ticker", "statement", "year")
