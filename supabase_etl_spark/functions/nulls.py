"""Null/NaN handling expressions (reference ops T2/T4/T6).

Parity notes (SURVEY.md §2.3):
  * The reference's ticker fallback is `row.get('CP') or
    row.get('ticker', 'FPT')` (etl_supabase.py:59) — Python truthiness,
    so empty string and 0 fall through, not just null. `truthy_coalesce`
    reproduces that exactly; plain `F.coalesce` would not.
  * pandas `pd.isna` treats float NaN and None alike
    (etl_supabase.py:50,57); Spark distinguishes them — `nan_to_null`
    normalizes NaN→null at ingest so downstream semantics match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _is_truthy(col: Column, numeric: bool) -> Column:
    """Python-truthiness predicate: null, '' (strings), 0 and NaN
    (numerics) are falsy. Note '0' as a STRING is truthy, exactly like
    Python — type awareness matters here."""
    if numeric:
        return col.isNotNull() & ~F.isnan(col.cast("double")) & (col.cast("double") != 0.0)
    return col.isNotNull() & (col.cast("string") != "")


def truthy_coalesce(*cols: Column | str, default=None, df: DataFrame | None = None) -> Column:
    """First column whose value is non-null AND truthy. Mirrors
    `a or b or ... or default` (etl_supabase.py:59).

    String semantics by default ('' falsy); pass `df` to detect numeric
    columns from its schema so 0/NaN are falsy for those.
    """
    numeric_names: set[str] = set()
    if df is not None:
        numeric_names = {
            f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)
        }
    expr = F.lit(default)
    for c in reversed(cols):
        name = c if isinstance(c, str) else None
        col = F.col(c) if isinstance(c, str) else c
        numeric = name in numeric_names if name is not None else False
        expr = F.when(_is_truthy(col, numeric), col).otherwise(expr)
    return expr


def nan_to_null(col: Column | str) -> Column:
    """NaN → null for float/double columns (ref T4, etl_supabase.py:57)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def nan_to_null_all(df: DataFrame) -> DataFrame:
    """Apply nan_to_null to every float/double column of a DataFrame, in
    one select (a `withColumn` per column re-analyzes the plan each time)."""
    return df.select(*[
        nan_to_null(F.col(f"`{f.name}`")).alias(f.name)
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ])
