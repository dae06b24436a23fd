"""Scale-lever proofs (operators/scale.py): salting preserves join
results; bucketing removes the join shuffle from the physical plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.scale import salted_join, write_bucketed

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_join_equals_plain_inner(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity", "l_linenumber")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey")
    salted = salted_join(
        li, o, "l_orderkey", salt_buckets=8,
        salt_source=F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "o_totalprice"]
    assert _rows(plain, cols) == _rows(salted, cols)


def test_salted_join_left_keeps_unmatched(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    # orders subset -> some lineitems unmatched
    o = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    plain = li.join(o, "l_orderkey", "left")
    salted = salted_join(li, o, "l_orderkey", salt_buckets=4, how="left")
    cols = ["l_orderkey", "l_linenumber", "o_totalprice"]
    assert _rows(plain, cols) == _rows(salted, cols)


def test_bucketed_join_has_no_exchange(spark):
    import shutil

    # a previous session may have left the managed-table dirs behind
    # (the metastore is per-session, the warehouse dir is not)
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=4, sort_key="l_orderkey")
    write_bucketed(o, "b_orders", "o_orderkey", n_buckets=4, sort_key="o_orderkey")
    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).filter(
        F.col("o_totalprice") > 0
    )
    # force a non-broadcast join so the shuffle question is real
    joined_nb = bl.hint("merge").join(bo, bl.l_orderkey == bo.o_orderkey)
    plan = joined_nb._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
    # and the result is correct
    n_plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert joined_nb.count() == n_plain


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from supabase_etl_spark.io.writers import compact_parquet

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    frag, compacted = str(tmp_path / "frag"), str(tmp_path / "compact")
    li.repartition(64).write.parquet(frag)  # simulate small-files accretion
    import glob

    assert len(glob.glob(f"{frag}/*.parquet")) >= 32
    n = compact_parquet(spark, frag, compacted, target_file_mb=512)
    assert n == 1
    assert len(glob.glob(f"{compacted}/*.parquet")) == 1
    assert spark.read.parquet(compacted).count() == li.count()


def test_label_propagation_plan_bounded_in_rounds(spark):
    """localCheckpoint per LPA round must keep the logical plan
    constant-size: 10 rounds may not analyze into a superlinearly
    bigger plan than 2 rounds (the r4 verdict's growth concern)."""
    import time

    from supabase_etl_spark.queries.analytics import graph_label_propagation

    sf = "/root/testdata/sf0.001"

    def plan_len(iters):
        t0 = time.time()
        df = graph_label_propagation(spark, sf, iterations=iters)
        build = time.time() - t0
        return len(df._jdf.queryExecution().optimizedPlan().toString()), build

    len2, t2 = plan_len(2)
    len10, t10 = plan_len(10)
    # truncated lineage -> final plan identical in shape regardless of
    # round count (each round starts from a checkpointed scan)
    assert len10 <= len2 * 1.5, (len2, len10)
    # and 10 rounds converge to the same communities as 3 on this graph
    r3 = {tuple(r) for r in graph_label_propagation(spark, sf, iterations=3).collect()}
    r10 = {tuple(r) for r in graph_label_propagation(spark, sf, iterations=10).collect()}
    assert r3 == r10


def test_dsir_bucket_hash_is_uniform(spark):
    """The md5-prefix gram-bucket hash behaves as a uniform hash: on the
    corpus it routes each word to its own bucket up to a few
    collisions, and on a vocab >> buckets it fills every bucket with
    binomial-thin spread."""
    from supabase_etl_spark.queries import llm_sampling as S

    sf = "/root/testdata/sf0.01"
    words = load_table(spark, sf, "documents").select(
        F.explode(F.split("text", r"\s+")).alias("g")
    ).filter(F.col("g") != "")
    buckets = {
        r["b"]: r["count"]
        for r in words.select(S.dsir_bucket_expr("g").alias("b")).groupBy("b").count().collect()
    }
    # the synthetic corpus has a ~31-word unigram vocabulary, so the
    # bucket histogram is word-frequency mass routed through the hash:
    # nonempty-bucket count ≈ vocab minus a few collisions (birthday
    # model at V≈31, B=256 expects ≈2)
    vocab = words.distinct().count()
    assert sum(buckets.values()) == words.count()
    assert vocab - 6 <= len(buckets) <= vocab, (len(buckets), vocab)

    # uniformity moments proper need a vocab >> B: hash 20k synthetic
    # grams — the hash must fill every bucket with binomial-thin
    # spread (mean 78, sd ≈ 8.8; a biased hash blows the spread up)
    import statistics

    g20k = spark.range(20_000).select(F.concat(F.lit("gram_"), F.col("id")).alias("g"))
    counts = [
        r["count"]
        for r in g20k.select(S.dsir_bucket_expr("g").alias("b")).groupBy("b").count().collect()
    ]
    assert len(counts) == S.DSIR_BUCKETS, len(counts)
    mean = 20_000 / S.DSIR_BUCKETS
    assert statistics.pstdev(counts) < 0.25 * mean
