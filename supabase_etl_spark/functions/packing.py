"""Record reshaping: the reference's transform stage, columnar.

The reference walks every row in Python (`df.iterrows()`,
etl_supabase.py:49) to build `{ticker, year, data}` dicts. Here the
same reshape is ONE columnar select — zero Python in the row path, so
it runs inside whole-stage codegen and scales to any partition count.

Reference ops covered (SURVEY.md §2.1):
  T1 dynamic column discovery  (etl_supabase.py:43-47)
  T3 exclusion projection      (etl_supabase.py:54-56)
  T5 struct/JSON packing       (etl_supabase.py:53-57,64)
  T7 record construction       (etl_supabase.py:35-68)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ref defaults (etl_supabase.py:45,55)
YEAR_CANDIDATES = ("năm", "year")
EXCLUDE_DEFAULT = ("năm", "year", "cp", "ticker")
TICKER_DEFAULT = "FPT"  # ref :59, the ticker of a row with neither column


def discover_column_ci(df: DataFrame, candidates=YEAR_CANDIDATES) -> str | None:
    """First column (left-to-right over df.columns) whose lowercase name
    is in `candidates` — first-match-wins, preserving the reference's
    scan order (etl_supabase.py:43-47; pitfall SURVEY §2.3.2).

    Driver-side schema introspection only; no data is touched.
    """
    cand = {c.lower() for c in candidates}
    for col in df.columns:
        if col.lower() in cand:
            return col
    return None


def exclusion_project(df: DataFrame, exclude_ci=EXCLUDE_DEFAULT) -> DataFrame:
    """Drop columns case-insensitively; keep everything else
    (ref T3, etl_supabase.py:54-56)."""
    excl = {e.lower() for e in exclude_ci}
    keep = [c for c in df.columns if c.lower() not in excl]
    return df.select(*[F.col(f"`{c}`") for c in keep])


def _payload_cols(df: DataFrame, exclude_ci) -> list[str]:
    excl = {e.lower() for e in exclude_ci}
    return [c for c in df.columns if c.lower() not in excl]


def pack_json(df: DataFrame, exclude_ci=EXCLUDE_DEFAULT) -> Column:
    """All non-excluded columns as one JSON object string (ref T5).

    `to_json` is UTF-8 native — Vietnamese keys survive without any
    ensure_ascii dance (etl_supabase.py:136). ignoreNullFields=false
    keeps explicit nulls, matching the reference's NaN→None packing
    (etl_supabase.py:57) where keys stay present with null values."""
    cols = _payload_cols(df, exclude_ci)
    return F.to_json(
        F.struct(*[F.col(f"`{c}`") for c in cols]),
        options={"ignoreNullFields": "false"},
    )


def pack_map(df: DataFrame, exclude_ci=EXCLUDE_DEFAULT) -> Column:
    """All non-excluded columns as map<string,string> — the open-schema
    payload shape (values stringified; null-safe)."""
    cols = _payload_cols(df, exclude_ci)
    pairs: list[Column] = []
    for c in cols:
        pairs.append(F.lit(c))
        pairs.append(F.col(f"`{c}`").cast("string"))
    return F.create_map(*pairs)


def to_jsonb_records(df: DataFrame) -> DataFrame:
    """The reference's whole transform (T7, etl_supabase.py:35-68) as a
    single select: (ticker, year, data).

    * ticker: truthy-coalesce of CP → ticker → TICKER_DEFAULT (ref :59)
    * year:   discovered year column, null-safe int cast (ref :43-50)
    * data:   the columns outside EXCLUDE_DEFAULT packed as one JSON
              object (ref :53-57)

    NaN values in float columns are normalized to null first
    (ref :57; SURVEY §2.3.3).
    """
    from supabase_etl_spark.functions.nulls import nan_to_null_all, truthy_coalesce

    df = nan_to_null_all(df)

    year_col = discover_column_ci(df)
    year_expr = (
        F.col(f"`{year_col}`").cast("int") if year_col is not None else F.lit(None).cast("int")
    )

    ticker_cols = [c for c in df.columns if c.lower() in ("cp", "ticker")]
    ticker_expr = (
        truthy_coalesce(*ticker_cols, default=TICKER_DEFAULT, df=df)
        if ticker_cols
        else F.lit(TICKER_DEFAULT)
    )

    return df.select(
        ticker_expr.cast("string").alias("ticker"),
        year_expr.alias("year"),
        pack_json(df).alias("data"),
    )
