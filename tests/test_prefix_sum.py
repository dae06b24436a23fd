"""Distributed prefix sum == sequential window, on arbitrary data.

The hash oracle pins orders_abc_pareto's instance at two SFs; this
property test pins the OPERATOR: random decimal values under random
orderings, many partition counts, always bit-equal to the naive
single-partition window."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from supabase_etl_spark.operators.prefix import distributed_cumsum


def _check(spark, values, num_partitions):
    rows = [(i, Decimal(v).quantize(Decimal("0.000001"))) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k bigint, v decimal(28,6)")
    order = [F.col("v").desc(), F.col("k").asc()]
    got = {
        r["k"]: r["cumsum"]
        for r in distributed_cumsum(
            df, "v", order, num_partitions=num_partitions
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["cumsum"]
        for r in df.withColumn("cumsum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_matches_sequential_window_lcg_data(spark):
    # deterministic LCG values incl. negatives and exact ties
    vals = [((1103515245 * i + 12345) % 2000003 - 1000000) / 100 for i in range(500)]
    vals[7] = vals[13] = vals[99]  # planted ties exercise the tie-break key
    for p in (1, 3, 8, 32):
        _check(spark, vals, p)


def test_single_row_and_empty(spark):
    _check(spark, [42.5], 4)
    df = spark.createDataFrame([], "k bigint, v decimal(28,6)")
    out = distributed_cumsum(df, "v", [F.col("v").desc(), F.col("k")])
    assert out.count() == 0


def test_more_partitions_than_rows(spark):
    _check(spark, [1.0, -2.0, 3.5], 16)


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_chained_cumsum_over_shuffle_output(spark, monkeypatch, tmp_path, mode):
    """Two distributed_cumsum calls chained over a groupBy (shuffle)
    output — the shape that exposed the re-sampled-range-boundary bug:
    without materializing the ranged frame, `local` and `offsets`
    could see different partition assignments and the second cumsum
    silently drifted. Both outputs must equal the naive
    single-partition window, under every SPARK_GRAFT_PIN_MODE."""
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", mode)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from supabase_etl_spark.operators.prefix import distributed_cumsum

    base = (
        spark.range(50_000)
        .select(
            (F.col("id") % 9973).alias("v"),
            ((F.col("id") % 7) + 1).cast("decimal(20,0)").alias("a"),
            ((F.col("id") % 5) + 1).cast("decimal(20,0)").alias("b"),
        )
        .groupBy("v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    )
    got = distributed_cumsum(base, "a", [F.col("v")], out="ca")
    got = distributed_cumsum(got, "b", [F.col("v")], out="cb")
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = base.withColumn("ca", F.sum("a").over(w)).withColumn(
        "cb", F.sum("b").over(w)
    )
    g = {r["v"]: (r["ca"], r["cb"]) for r in got.collect()}
    wnt = {r["v"]: (r["ca"], r["cb"]) for r in want.collect()}
    assert g == wnt


def test_distributed_rank_matches_row_number(spark):
    """distributed_rank == row_number() OVER (ORDER BY ...) bit-for-bit,
    including expression order keys and duplicate sort values with a
    tie-break column."""
    from supabase_etl_spark.operators.prefix import distributed_rank

    base = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 37).alias("v")
    )
    got = distributed_rank(base, [F.desc("v"), F.asc("k")], out="rn")
    w = Window.orderBy(F.desc("v"), F.asc("k"))
    want = base.withColumn("rn", F.row_number().over(w).cast("bigint"))
    g = {r["k"]: r["rn"] for r in got.collect()}
    ww = {r["k"]: r["rn"] for r in want.collect()}
    assert g == ww
    # expression key (md5 shuffle order — the permutation-importance shape)
    got2 = distributed_rank(
        base, [F.md5(F.col("k").cast("string")).asc(), F.asc("k")], out="rn"
    )
    w2 = Window.orderBy(F.md5(F.col("k").cast("string")).asc(), F.asc("k"))
    want2 = base.withColumn("rn", F.row_number().over(w2).cast("bigint"))
    assert {r["k"]: r["rn"] for r in got2.collect()} == {
        r["k"]: r["rn"] for r in want2.collect()
    }


def test_ntile_from_rank_matches_ntile_exactly(spark):
    """ntile_from_rank == NTILE(b) OVER the same total order for every
    (n, buckets) shape: n < b, n == b, n % b == 0, n % b != 0."""
    from supabase_etl_spark.operators.prefix import (
        distributed_rank,
        ntile_from_rank,
    )

    for n, b in [(3, 10), (10, 10), (40, 5), (47, 5), (1, 4), (12345, 7)]:
        base = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 11).alias("v")
        )
        n1 = base.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        got = (
            distributed_rank(base, [F.desc("v"), F.asc("k")], out="rn")
            .crossJoin(F.broadcast(n1))
            .withColumn("tile", ntile_from_rank(F.col("rn"), F.col("__n"), b))
        )
        w = Window.orderBy(F.desc("v"), F.asc("k"))
        want = base.withColumn("tile", F.ntile(b).over(w))
        g = {r["k"]: r["tile"] for r in got.collect()}
        ww = {r["k"]: r["tile"] for r in want.collect()}
        assert g == ww, f"ntile mismatch for n={n}, b={b}"


def test_distributed_cumsums_multi_matches_sequential(spark):
    """Multi-value variant: every output column bit-equal to its own
    sequential window, from ONE range shuffle."""
    from supabase_etl_spark.operators.prefix import distributed_cumsums

    vals = [((69069 * i + 1) % 1000003 - 500000) / 100 for i in range(300)]
    rows = [
        (
            i,
            Decimal(v).quantize(Decimal("0.000001")),
            Decimal(2 * v + 1).quantize(Decimal("0.000001")),
            i % 7,
        )
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "k bigint, a decimal(28,6), b decimal(28,6), c bigint"
    )
    order = [F.col("a").desc(), F.col("k").asc()]
    for p in (1, 4, 16):
        got = {
            r["k"]: (r["ca"], r["cb"], r["cc"])
            for r in distributed_cumsums(
                df, ["a", "b", "c"], order, ["ca", "cb", "cc"], num_partitions=p
            ).collect()
        }
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["k"]: (r["ca"], r["cb"], r["cc"])
            for r in df.select(
                "k",
                F.sum("a").over(w).alias("ca"),
                F.sum("b").over(w).alias("cb"),
                F.sum("c").over(w).alias("cc"),
            ).collect()
        }
        assert got == want
