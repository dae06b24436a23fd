"""Plan-shape assertions (SURVEY §5.2(1)): the optimizations we rely on
must be visible in the physical plan, not assumed."""

from __future__ import annotations

import re
import tempfile

from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.io.writers import write_parquet
from supabase_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF, "lineitem").filter(F.col("l_orderkey") == 7)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,7)]" in _plan(li)


def test_column_pruning_reaches_parquet(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_small_dims_broadcast(spark):
    q = load_all()["join_q5_local_supplier_volume"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nothing should fall back at this scale


def test_partitioned_write_prunes_partitions(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_quantity"
    )
    out = tempfile.mkdtemp(prefix="prune_")
    write_parquet(li, out, partition_by=["l_returnflag"])
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan
    # the partition column filter must NOT appear as a data filter
    assert "PushedFilters: []" in plan


def test_clustered_write_pushes_range_filter(spark):
    import shutil

    from supabase_etl_spark.queries.io_roundtrip import io_parquet_clustered_plan

    df, scratch = io_parquet_clustered_plan(spark, SF)
    try:
        plan = _plan(df)
        assert (
            "PushedFilters: [IsNotNull(ship_date), GreaterThanOrEqual(ship_date,"
            in plan
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_topk_uses_take_ordered(spark):
    q = load_all()["limit_global_topk"]
    plan = _plan(q.fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_covers_agg(spark):
    q = load_all()["q1_pricing_summary"]
    df = q.fn(spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    # whole-stage codegen spans render as "*(n) Operator" in toString
    assert "*(1) HashAggregate" in plan or "WholeStageCodegen" in plan


def test_bucketed_range_join_avoids_nested_loop(spark):
    q = load_all()["join_range_bucketed"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_pair_join_is_banded_not_all_pairs(spark):
    """The Hamming<=3 pair stage must go through the byte-band equi-join
    (pigeonhole, zero recall loss) — never a nested-loop n² plan."""
    q = load_all()["dedup_simhash"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_cosine_pair_join_is_lsh_gated(spark):
    """Candidate pairs come from the multi-band sign-LSH bucket
    equi-join, not a brute-force cross join over all vector pairs."""
    q = load_all()["dedup_embedding_cosine"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q6_predicates_and_pruning_reach_scan(spark):
    """TPC-H Q6: every range predicate pushes into the parquet scan and
    only the 3 touched columns are read — the scan does the filtering,
    not the executors."""
    q = load_all()["tpch_q6_forecast_revenue"]
    plan = _plan(q.fn(spark, SF))
    # toString truncates the filter list; the prefix proves pushdown ran
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda" in plan
    )
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp" in plan
    )


def test_q4_exists_plans_as_semi_join(spark):
    """TPC-H Q4: the correlated EXISTS with a non-equi date conjunct
    must still compile to one LeftSemi hash join on l_orderkey with the
    date comparison as a join residual — no per-row subquery, no
    nested-loop."""
    q = load_all()["tpch_q4_order_priority"]
    plan = _plan(q.fn(spark, SF))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q22_not_exists_plans_as_anti_join(spark):
    q = load_all()["tpch_q22_idle_customers"]
    plan = _plan(q.fn(spark, SF))
    assert "LeftAnti" in plan


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """Correlated EXISTS must plan as a left-semi join, never a per-row
    subquery (the de-correlation that makes the shape scale)."""
    q = load_all()["sql_exists_subquery"]
    plan = _plan(q.fn(spark, SF))
    assert "LeftSemi" in plan
    assert "Subquery" not in plan


def test_correlated_scalar_subquery_decorrelates_to_aggregate_join(spark):
    """Correlated scalar subquery: one aggregate joined back on the
    correlation key — the plan holds a join + aggregate, no scalar
    subquery node survives optimization."""
    q = load_all()["sql_correlated_scalar_subquery"]
    plan = _plan(q.fn(spark, SF))
    assert "Join" in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "ScalarSubquery" not in plan


def test_q9_star_joins_broadcast_dims(spark):
    """TPC-H Q9: part/supplier/nation all broadcast; no cartesian or
    nested-loop anywhere in the five-way star."""
    q = load_all()["tpch_q9_product_profit"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_single_stats_pass_no_self_subqueries(spark):
    """TPC-H Q21: the EXISTS/NOT-EXISTS rewrite runs ONE per-order
    aggregation joined back — the plan must hold hash/merge joins only,
    with no nested-loop and no surviving subquery nodes."""
    q = load_all()["tpch_q21_waiting_supplier"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Subquery" not in plan


def test_kmeans_corpus_never_shuffles_before_assignment(spark):
    """embedding_kmeans_assign: the centroid table is the broadcast side
    of the cross join (8 rows), so the corpus-side scan reaches the
    distance computation without an Exchange before it."""
    q = load_all()["embedding_kmeans_assign"]
    df = q.fn(spark, SF)
    plan = _plan(df)
    # the only acceptable nested-loop is the 8-row centroid broadcast
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_probe_is_equi_join(spark):
    q = load_all()["decontaminate_ngram"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pair_join_is_cluster_bounded(spark):
    """dedup_semantic: the only nested-loop is the 8-row centroid
    broadcast for assignment; the pair stage is an equi-join on
    cluster_id (SemDeDup's n²/k bound), never a corpus-level cartesian."""
    q = load_all()["dedup_semantic"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    # exactly one BroadcastNestedLoopJoin: the centroid cross join
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cdc_merge_joins_on_merge_key(spark):
    """merge_cdc_upsert: the base↔latest-change merge is a keyed join
    (hash or sort-merge on o_orderkey) — no nested-loop, no cartesian —
    so the apply scales with a shuffle, not a broadcast-size cliff."""
    q = load_all()["merge_cdc_upsert"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_attribution_single_window_pass(spark):
    """events_attribution: both attribution models come from ONE window
    over (user_id, ts) — the plan holds exactly one Window node and no
    self-join of the event stream."""
    q = load_all()["events_attribution"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("Window") >= 1
    assert "Join" not in plan  # no self-join; union + agg only


def test_containment_pair_join_is_inverted_index(spark):
    q = load_all()["dedup_containment"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stream_static_join_broadcasts_dim(spark):
    """stream_static_enrich: the static customer dim must broadcast
    into each micro-batch (stateless enrich), leaving the windowed agg
    as the only stateful operator."""
    q = load_all()["stream_static_enrich"]
    df = q.fn(spark, SF)
    assert df.count() >= 0  # ran to completion via AvailableNow


def test_zorder_scan_pushes_both_dimensions(spark):
    """io_parquet_zorder: the 2-D predicate must reach the parquet scan
    on BOTH columns (custkey range and date range) — that is what lets
    Z-ordered file min/max stats prune in two dimensions at once."""
    import shutil

    from supabase_etl_spark.queries.io_roundtrip import io_parquet_zorder_plan

    df, scratch = io_parquet_zorder_plan(spark, SF)
    try:
        plan = _plan(df)
        # toString truncates the filter list; the prefix shows both
        # columns entered the pushdown set
        assert "GreaterThanOrEqual(o_custkey,100)" in plan
        assert "IsNotNull(order_date)" in plan
        assert "LessThanOrEqual(" in plan
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_bloom_runtime_filter_injected(spark):
    """With the bloom conf scope active, the fact leg of the shuffle
    join must carry a might_contain(bloom subquery) filter — the
    semi-join reduction that cuts shuffled bytes by dim selectivity."""
    from supabase_etl_spark.queries.joins import _BLOOM_CONFS, bloom_filter_join_plan

    saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = bloom_filter_join_plan(spark, SF)
        df.collect()  # AQE finalizes subquery reuse on execution
        plan = _plan(df)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan
    assert "xxhash64(l_orderkey" in plan


def test_tfidf_plan_builds_without_jobs(spark):
    """text_tfidf_terms computes N in-plan (1-row broadcast aggregate
    cross-joined onto the df table): constructing the DataFrame must
    launch no aggregation job — the old version ran a blocking
    distinct().count() at plan-build time, scanning and tokenizing the
    corpus twice. spark.read.parquet's footer-read schema inference is
    a 1-stage, 1-task job and is allowed; anything with a shuffle
    (multi-stage) at build time is the regression this test guards.
    The N branch's scan must also be pruned to doc_id."""
    q = load_all()["text_tfidf_terms"]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = q.fn(spark, SF)
    new_jobs = set(tracker.getJobIdsForGroup()) - before
    for jid in new_jobs:
        info = tracker.getJobInfo(jid)
        assert info is None or len(info.stageIds) <= 1, (
            f"plan construction ran a shuffling job {jid}"
        )
    plan = _plan(df)
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_unigram_logprob_scoring_join_broadcasts(spark):
    """text_unigram_logprob: the vocab-sized term-frequency table must
    broadcast onto the corpus-sized token stream — no shuffle of the
    exploded corpus on the term key."""
    q = load_all()["text_unigram_logprob"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_logprob_scoring_joins_broadcast(spark):
    """text_bigram_logprob: ONE combined count table (bigram count cb
    + windowed context count cw) broadcasts onto the corpus-sized
    bigram stream — the r4 shape joined two count tables (2 probes);
    the r5 rewrite derives the context count from the bigram table and
    probes once, on a numeric xxhash64 key instead of concatenated
    bigram strings. Pin all three properties: single broadcast probe,
    no corpus shuffle join, no string-keyed join."""
    q = load_all()["text_bigram_logprob"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "xxhash64" in plan
    assert "concat_ws" not in plan


def test_dynamic_partition_pruning_subquery(spark):
    """The year-partitioned fact scan must be pruned by a dynamic
    subquery on the runtime-selective dim — visible as a dynamicpruning
    expression in the scan's PartitionFilters. Asserts on the LAZY plan
    builder; the registered query materializes eagerly so it can remove
    its scratch layout (which would hide the DPP node here)."""
    import shutil

    from supabase_etl_spark.queries.io_roundtrip import (
        dynamic_partition_pruning_plan,
    )

    df, scratch = dynamic_partition_pruning_plan(spark, SF)
    try:
        plan = _plan(df)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    assert "dynamicpruning" in plan


def test_snm_rank_uses_range_partitioning_not_global_window(spark):
    """dedup_sorted_neighborhood's global rank must come from
    range-repartition + per-partition row_number + broadcast offsets —
    never a single-partition window over the corpus. The plan shows
    rangepartitioning for the sort and every Window node keeps a
    partition spec (pid / rank keys)."""
    q = load_all()["dedup_sorted_neighborhood"]
    plan = _plan(q.fn(spark, SF))
    assert "rangepartitioning" in plan.lower()
    # the corpus-sized window partitions by pid; the only tiny
    # unpartitioned window is over the per-partition offsets frame
    # (bounded by the partition count), which arrives via broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_vocab_lookup_broadcasts_and_topk_is_take_ordered(spark):
    """text_vocab_ids: the K-row vocabulary must broadcast into the
    token stream (corpus never shuffles for the lookup) and the top-K
    cut must plan as TakeOrderedAndProject, not a global sort."""
    q = load_all()["text_vocab_ids"]
    plan = _plan(q.fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_filters_before_exact_join(spark):
    """decontaminate_bloom: the bit-test filter must sit on the
    train-gram stream BEFORE the exact gram equi-join (map-side prune),
    and the bitmap must arrive by broadcast."""
    q = load_all()["decontaminate_bloom"]
    plan = _plan(q.fn(spark, SF))
    assert "shiftleft" in plan  # the bit test is a JVM-side filter
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_skyline_has_no_quadratic_join(spark):
    """skyline_pareto_front is the sort-based linear plan — the
    quadratic NOT EXISTS of the oracle must not appear as a
    nested-loop self-join."""
    q = load_all()["skyline_pareto_front"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_is_hash_join_with_residual(spark):
    """join_asof_nearest: the by-key equi component must make this a
    hash/sort-merge join with the tolerance as residual — a pure
    non-equi nested loop would be quadratic per user stream."""
    q = load_all()["join_asof_nearest"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_distinct_contribution_is_bounded_explode(spark):
    """events_sliding_distinct_users: one Expand/Generate of the event
    stream, then plain hash aggregates — no per-day rescan loop, no
    window over the corpus."""
    q = load_all()["events_sliding_distinct_users"]
    plan = _plan(q.fn(spark, SF))
    assert "Generate explode" in plan
    assert "Window" not in plan


def test_dsir_ratio_table_broadcasts_onto_gram_stream(spark):
    """sample_dsir: the 256-row bucket log-ratio table must broadcast
    onto the corpus-sized gram stream (no SortMergeJoin of the corpus),
    and the final top-k must be TakeOrdered, not a global sort."""
    q = load_all()["sample_dsir"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    # exactly ONE shuffle join is allowed: attaching per-doc weights
    # back to the document table (corpus x corpus on doc_id — neither
    # side is broadcastable at scale, so SMJ is the *correct* plan);
    # the gram-stream x ratio-table joins must all be broadcast
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_maxsim_broadcasts_queries_no_corpus_shuffle(spark):
    """sim_maxsim_late_interaction: the query batch broadcasts against
    the corpus scan — the only exchanges are the broadcast and the
    bounded-window rank; the corpus itself is never hash-repartitioned
    before scoring."""
    q = load_all()["sim_maxsim_late_interaction"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_pair_counts_aggregates_vocab_not_corpus(spark):
    """text_bpe_pair_counts: pair explosion happens AFTER the token
    agg (vocab-sized), and the top-k is TakeOrdered. The plan has
    exactly two hash aggregations over exchanges: token counts and
    pair counts."""
    q = load_all()["text_bpe_pair_counts"]
    plan = _plan(q.fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # generate (explode) must sit ABOVE the first aggregate in the
    # plan tree: the string 'Generate' appears after the vocab
    # HashAggregate when reading bottom-up; cheap proxy — the scan
    # reads only the text column
    assert "ReadSchema: struct<text:string>" in plan


def test_psi_grid_is_tiny_after_first_agg(spark):
    """dq_drift_psi: one corpus scan; everything after the first agg is
    grid-sized. The totals join must broadcast."""
    q = load_all()["dq_drift_psi"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parquet_bloom_filter_bytes_are_written(spark):
    """io_parquet_bloom_layout's write option must actually emit bloom
    bitmaps: the bloom-enabled file is materially larger than the same
    data written plain, and pyarrow still parses the footer (the
    bitmap lives between row groups and footer, invisible to readers
    that don't ask)."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq

    # parquet-mr SKIPS the bloom when a chunk is fully dictionary-
    # encoded (the dictionary already answers membership exactly), so
    # disable dictionary encoding on both writes to force the bitmap
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey").coalesce(1)
    plain_dir = tempfile.mkdtemp(prefix="bloom_plain_")
    bloom_dir = tempfile.mkdtemp(prefix="bloom_on_")
    try:
        (
            o.write.mode("overwrite")
            .option("parquet.enable.dictionary", "false")
            .parquet(plain_dir)
        )
        (
            o.write.mode("overwrite")
            .option("parquet.enable.dictionary", "false")
            .option("parquet.bloom.filter.enabled#o_custkey", "true")
            .option("parquet.bloom.filter.expected.ndv#o_custkey", "2000")
            .parquet(bloom_dir)
        )
        plain = glob.glob(plain_dir + "/*.parquet")[0]
        bloomed = glob.glob(bloom_dir + "/*.parquet")[0]
        assert os.path.getsize(bloomed) > os.path.getsize(plain) + 1024
        assert pq.ParquetFile(bloomed).metadata.num_rows == o.count()
    finally:
        import shutil

        shutil.rmtree(plain_dir, ignore_errors=True)
        shutil.rmtree(bloom_dir, ignore_errors=True)


def test_zstd_compresses_tighter_than_snappy(spark):
    """io_parquet_codecs' operational claim, pinned: on the repetitive
    lineitem slice zstd's layout is materially smaller than snappy's —
    the storage dividend a 100 TB lake collects by flipping one
    option."""
    import glob
    import os
    import shutil
    import tempfile

    li = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .coalesce(1)
    )
    sizes = {}
    dirs = []
    try:
        for codec in ("snappy", "zstd"):
            d = tempfile.mkdtemp(prefix=f"codec_{codec}_")
            dirs.append(d)
            li.write.mode("overwrite").option("compression", codec).parquet(d)
            sizes[codec] = sum(
                os.path.getsize(f) for f in glob.glob(d + "/*.parquet")
            )
        assert sizes["zstd"] < sizes["snappy"]
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_epoch_shuffle_rank_is_range_partitioned_not_single_task(spark):
    """sample_epoch_shuffle's global rank must come from a range
    repartition (corpus-parallel), and the only unpartitioned window
    (the per-partition offset cumsum) must run over spark_partition_id
    counts, never corpus rows: the corpus-sized windows are all
    partitioned by pid."""
    q = load_all()["sample_epoch_shuffle"]
    plan = _plan(q.fn(spark, SF))
    assert "rangepartitioning(epoch" in plan.lower()
    # the corpus-sized rank window is pid-partitioned
    assert "partitionBy: [pid" in plan or "[pid#" in plan


def test_source_kl_broadcasts_totals_and_stats(spark):
    """text_source_kl_divergence: the source-totals and corpus-total
    legs broadcast; the corpus is never in a nested-loop join."""
    q = load_all()["text_source_kl_divergence"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_gemm_topk_has_no_join_only_arrow_map(spark):
    """sim_topk_gemm_blocked: the corpus side must be a pure Arrow map
    (MapInPandas/ArrowEvalPython), not a cross/broadcast join — the
    shuffle carries only the per-batch partials."""
    q = load_all()["sim_topk_gemm_blocked"]
    plan = _plan(q.fn(spark, SF))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_outliers_broadcasts_means_and_stats(spark):
    """embedding_centroid_outliers: the means and moments tables are
    broadcast back onto the exploded corpus — no sort-merge join of
    corpus-sized legs on the label key."""
    q = load_all()["embedding_centroid_outliers"]
    plan = _plan(q.fn(spark, SF))
    # r12: the means-broadcast moved INSIDE the dists localCheckpoint
    # pin (scan-leaf lint) — the final plan shows the stats broadcast;
    # the means join shape is auditable in the pin's builder code.
    assert plan.count("BroadcastExchange") >= 1
    assert "SortMergeJoin" not in plan


def test_dbscan_candidates_are_grid_equi_join(spark):
    """embedding_dbscan_grid: neighbor candidates must come from the
    (pcx, pcy) grid equi-join — no cartesian/nested-loop pair stage
    anywhere in the plan."""
    q = load_all()["embedding_dbscan_grid"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ml_eval_threshold_metrics_group_before_windows(spark):
    """ml_eval_auc_pr: the corpus is reduced by a hash aggregate to the
    (model, score) threshold table BEFORE any window runs — windows
    must consume the aggregated stream, and no corpus-sized
    nested-loop join may appear."""
    q = load_all()["ml_eval_auc_pr"]
    plan = _plan(q.fn(spark, SF))
    assert "HashAggregate" in plan
    assert plan.index("HashAggregate") < len(plan)  # present
    assert "CartesianProduct" not in plan
    # windows are partitioned by model (the threshold table key)
    assert "partitionBy: [model" in plan or "[model#" in plan


def test_pca_power_iteration_broadcasts_scalars(spark):
    """embedding_pca_power: the per-iteration norm scalars and the
    row-count must broadcast onto the matrix table; the corpus appears
    only under the one Gram-pass aggregate (no corpus self-join)."""
    q = load_all()["embedding_pca_power"]
    plan = _plan(q.fn(spark, SF))
    # r12: earlier iterations' broadcasts live inside the per-round
    # localCheckpoint pins (scan-leaf lint: the unpinned unroll read 84
    # parquet-scan leaves); the LAST round's norm broadcasts stay
    # visible in the final plan.
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_link_prediction_excludes_edges_with_anti_join(spark):
    """graph_link_prediction: existing edges must be removed by a
    LeftAnti hash join on the (x, y) pair key — never a filter over a
    cartesian pairing."""
    q = load_all()["graph_link_prediction"]
    plan = _plan(q.fn(spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_ranking_ndcg_broadcasts_query_side(spark):
    """ml_eval_ranking_ndcg: the query batch must broadcast against the
    corpus scan (same shape as sim_topk_bruteforce) — the corpus is
    never shuffled for the retrieval stage."""
    q = load_all()["ml_eval_ranking_ndcg"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_quantile_normalize_global_rank_is_range_partitioned(spark):
    """sample_quantile_normalize: the global rank must come from a
    range repartition with pid-partitioned local windows (the SNM
    pattern), not a single-partition corpus window."""
    q = load_all()["sample_quantile_normalize"]
    plan = _plan(q.fn(spark, SF))
    # r12: the range repartition itself sits inside the ranged
    # localCheckpoint pin (which also freezes the spark_partition_id
    # binding the rank depends on); the pid-partitioned local windows
    # stay visible and no corpus-wide window may appear.
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any(s.lstrip().startswith("pid") for s in specs), specs
    # ADVICE r12: the old guard only rejected unpartitioned-AND-unordered
    # specs; an ordered corpus-wide window (the actual regression —
    # e.g. a global rank ordered by n_chars with no partition) starts
    # with the ORDER column and slipped through. Every window must
    # either carry a partition column (first token a bare column;
    # boundedness of the partition key is the registry window lint's
    # job) or — the one sanctioned unpartitioned shape — be the SNM
    # offsets cumulation ordered BY pid itself, whose input is the
    # bounded per-partition-counts frame (#partitions rows), never the
    # corpus.
    for s in specs:
        first = s.split(",")[0].strip()
        assert not first.startswith("specifiedwindowframe"), f"unpartitioned unordered window: {s}"
        if " ASC" in first or " DESC" in first:
            assert first.startswith("pid"), f"corpus-wide ordered window: {s}"


def test_mor_delete_read_is_scoped_anti_join(spark, tmp_path):
    """manifest read() under a MOR delete applies a LeftAnti join scoped
    by file, and the delete-key side is small enough to broadcast."""
    from supabase_etl_spark.io import manifest_store as MS

    t = str(tmp_path / "tbl")
    MS.commit(spark.range(1000).selectExpr("id", "id AS v"), t, "overwrite")
    MS.delete_where_mor(spark, t, "id < 50", ["id"])
    plan = _plan(MS.read(spark, t))
    assert "LeftAnti" in plan


def test_trimmed_mean_single_rank_pass(spark):
    """agg_trimmed_mean: one rank window partitioned by group, then a
    hash aggregate — no self-join of the corpus to find the cut
    points."""
    q = load_all()["agg_trimmed_mean"]
    plan = _plan(q.fn(spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_mmr_pool_is_checkpoint_bounded(spark):
    """sim_mmr_diversified_rerank: every greedy round joins the POOL
    (localCheckpoint-materialized, Q*POOL rows), never the corpus — the
    corpus appears only under the initial broadcast-query scan."""
    q = load_all()["sim_mmr_diversified_rerank"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan


def test_herfindahl_broadcasts_segment_totals(spark):
    """agg_herfindahl_index: segment totals broadcast onto the
    customer-revenue stream for the share computation."""
    q = load_all()["agg_herfindahl_index"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastExchange" in plan


def test_nb_model_join_avoids_cartesian(spark):
    """ml_nb_train_score: the scoring join is token-keyed; the tiny
    prior/total frames enter via BroadcastNestedLoopJoin only, never a
    corpus-sized CartesianProduct."""
    q = load_all()["ml_nb_train_score"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_logreg_epochs_broadcast_coefficients(spark):
    """ml_logreg_gd: each unrolled epoch consumes the 1-row coefficient
    frame through a broadcast, so no epoch shuffles the corpus."""
    q = load_all()["ml_logreg_gd"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_item_cf_self_join_is_basket_keyed(spark):
    """ml_item_cf_cosine: co-occurrence comes from an equi-join on the
    order key (SortMerge or ShuffledHash), never a cartesian pair
    blowup; the item-count sides broadcast."""
    q = load_all()["ml_item_cf_cosine"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_gb_stumps_split_scan_is_bin_sized(spark):
    """ml_gb_stumps: the cumulative split-scan windows partition by
    feature id (the ≤12-row bin table), and the chosen stump re-enters
    each round as a broadcast — no single-partition corpus window."""
    q = load_all()["ml_gb_stumps"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rake_topk_is_take_ordered(spark):
    """text_rake_keywords: the global top-20 is TakeOrderedAndProject
    over the phrase table, not an unpartitioned ranking window over
    the corpus."""
    q = load_all()["text_rake_keywords"]
    plan = _plan(q.fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_lorenz_rank_is_range_partitioned(spark):
    """events_lorenz_deciles: the global rank rides on a range
    repartition (Exchange rangepartitioning), not a single-partition
    ORDER BY window over all users."""
    q = load_all()["events_lorenz_deciles"]
    plan = _plan(q.fn(spark, SF))
    assert "rangepartitioning" in plan


def test_absorbing_markov_iterates_on_state_table(spark):
    """events_absorbing_markov: the corpus appears once (per-user lead
    window); the three value-iteration steps run on the states^2
    transition table with no corpus re-scan or cartesian blowup."""
    q = load_all()["events_absorbing_markov"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    # the localCheckpoint-truncated transition table feeds the whole
    # iteration chain; the corpus scan appears at most once
    assert plan.count("events.parquet") <= 1


def test_cf_hitrate_candidates_are_keyed_joins(spark):
    """ml_cf_hitrate_eval: candidate generation is rest-items x top-3
    neighbors through an item-keyed equi-join, never a cartesian."""
    q = load_all()["ml_cf_hitrate_eval"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan


def test_histogram_similarity_joins_on_bucket(spark):
    """multimodal_image_histogram_similarity: the pair stage is a
    bucket-keyed equi-join of two histogram scans."""
    q = load_all()["multimodal_image_histogram_similarity"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan


def test_sql_broadcast_hint_forces_broadcast(spark):
    """sql_join_hint_broadcast: the /*+ BROADCAST(n) */ hint must be
    visible as a BroadcastHashJoin in the physical plan."""
    q = load_all()["sql_join_hint_broadcast"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_named_window_plans_one_window_operator(spark):
    """sql_named_window: three analytic functions over one named WINDOW
    spec must share a single Window operator."""
    q = load_all()["sql_named_window"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("Window ") <= 1 or plan.count("[Window") <= 1


def test_ktruss_triangle_join_is_keyed(spark):
    """graph_ktruss: every triangle enumeration round is a vertex-keyed
    equi-join chain on the canonical edge list — never a cartesian."""
    q = load_all()["graph_ktruss"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan


def test_silhouette_broadcasts_centroids_only(spark):
    """embedding_kmeans_silhouette: the k=8 centroid table broadcasts
    against one corpus scan; the corpus side never shuffles before the
    per-vector distance fold."""
    q = load_all()["embedding_kmeans_silhouette"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_knn_eval_broadcasts_query_batch(spark):
    """ml_knn_classifier_eval: the bounded query batch is the broadcast
    side; the corpus is scanned once, not self-joined."""
    q = load_all()["ml_knn_classifier_eval"]
    plan = _plan(q.fn(spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_viterbi_is_map_only_after_pivot(spark):
    """events_hmm_viterbi: the unrolled recursion is pure column
    expressions — exactly one corpus scan, one user-keyed pivot agg,
    no joins at all in the decode."""
    q = load_all()["events_hmm_viterbi"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("events.parquet") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan


def test_spc_windows_run_on_daily_table(spark):
    """dq_spc_control_chart: the run-rule windows ride the day-grained
    aggregate (single ordered partition of O(days) rows is fine); the
    corpus-sized orders scan appears exactly twice (daily means +
    control limits share one cached-free plan: daily agg reused)."""
    q = load_all()["dq_spc_control_chart"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan


def test_triplet_mining_broadcasts_anchor_batch(spark):
    """embedding_triplet_mining: the anchor batch broadcasts against
    one corpus scan; candidate generation is never corpus x corpus."""
    q = load_all()["embedding_triplet_mining"]
    plan = _plan(q.fn(spark, SF))
    # r12: the anchor-batch broadcast sits inside the dists
    # localCheckpoint pin (scan-leaf lint); the final plan consumes the
    # pinned distance grid and must never pair the corpus with itself.
    assert "CartesianProduct" not in plan
    # per-anchor windows over the pinned grid remain visible (the
    # aid-keyed joins of anchor-level tables may sort-merge; fine)
    assert "windowspecdefinition(aid" in plan


def test_kendall_pairs_stay_on_grid(spark):
    """agg_kendall_tau_b: the pair enumeration joins the grid cell
    table to itself — the corpus-sized lineitem scan appears at most
    twice (cells + total), never in the pair join."""
    q = load_all()["agg_kendall_tau_b"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("lineitem.parquet") <= 2


def test_removal_attribution_iterates_on_state_table(spark):
    """events_markov_removal_attribution: five variants of value
    iteration run on the checkpointed states^2 table; the events scan
    count stays bounded by the two corpus passes (transitions +
    first-events), not by variants x steps."""
    q = load_all()["events_markov_removal_attribution"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("events.parquet") <= 2


def test_dtw_corpus_work_is_two_rollups(spark):
    """events_dtw_alignment: the DP folds in one HOF expression — the
    events scan appears exactly twice (click + view rollups) and no
    join machinery enters the fold."""
    q = load_all()["events_dtw_alignment"]
    plan = _plan(q.fn(spark, SF))
    assert plan.count("events.parquet") == 2


def test_hbos_scoring_joins_broadcast_bin_tables(spark):
    q = load_all()["dq_hbos_outliers"]
    plan = _plan(q.fn(spark, SF))
    # both histogram tables (10 + 24 rows) and the max rows broadcast;
    # the top-10 is a TakeOrdered, never a global Sort+Limit
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_curriculum_rank_is_range_partitioned_not_single_window(spark):
    q = load_all()["sample_curriculum_schedule"]
    plan = _plan(q.fn(spark, SF))
    # distributed_cumsum shape: the corpus-sized running sum is a window
    # PARTITIONED BY the prefix pid (per-partition local sums), never a
    # single-partition window over the documents scan. The only
    # SinglePartition windows are bounded: the P-row offsets table and
    # the 10-row decile cumulative.
    assert "windowspecdefinition(__pfx_pid" in plan


def test_ssim_pairs_block_on_dims_no_cartesian(spark):
    q = load_all()["multimodal_image_ssim_pairs"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_permutation_test_is_one_aggregate_over_the_explode(spark):
    q = load_all()["agg_permutation_test"]
    plan = _plan(q.fn(spark, SF))
    # the x32 replicate explode collapses in a partial HashAggregate
    # before the exchange: map-side combine on (rep)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "HashAggregate" in plan


def test_cluster_by_owns_the_aggregate_exchange(spark):
    q = load_all()["sql_distribute_cluster_by"]
    plan = _plan(q.fn(spark, SF))
    # CLUSTER BY hash-partitions on the group keys; the downstream
    # aggregate must NOT add a second hashpartitioning exchange on them
    assert plan.lower().count("hashpartitioning(l_returnflag") == 1


def test_kneser_ney_scoring_stays_vocabulary_sized(spark):
    q = load_all()["text_kneser_ney_bigram"]
    plan = _plan(q.fn(spark, SF))
    # final ranking is TakeOrdered on the bigram-type table
    assert "TakeOrderedAndProject" in plan


def test_length_batching_ranks_are_distributed(spark):
    """sample_length_bucketed_batching's two global ranks (length-sorted,
    md5-shuffled) must come from distributed_cumsum — rangepartitioning
    exchanges + pid-partitioned windows + broadcast offsets — never a
    bare Window.orderBy over the corpus (VERDICT r7 finding 1)."""
    q = load_all()["sample_length_bucketed_batching"]
    plan = _plan(q.fn(spark, SF))
    # the rangepartitioning exchange sits behind distributed_cumsum's
    # localCheckpoint (plan truncation), so assert the window shape
    # instead: every corpus-ordered window spec must be partitioned by
    # the prefix pid; the only unpartitioned windows are the bounded
    # per-partition-offset frames (ordered by pid alone)
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln
        and "doc_id" in ln
        and "__pfx_pid" not in ln.split("windowspecdefinition(", 1)[1]
    ]
    assert not bad, f"corpus-sized unpartitioned window(s): {bad}"
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pps_cumsum_is_distributed(spark):
    """sample_pps_systematic's size cumsum must be the distributed
    prefix (rangepartitioning + broadcast offsets), and the global
    total must arrive as a broadcast 1-row aggregate — never a
    Window.partitionBy() over the corpus (VERDICT r7 finding 2)."""
    q = load_all()["sample_pps_systematic"]
    plan = _plan(q.fn(spark, SF))
    bad = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln
        and "doc_id" in ln
        and "__pfx_pid" not in ln.split("windowspecdefinition(", 1)[1]
    ]
    assert not bad, f"corpus-sized unpartitioned window(s): {bad}"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_isolation_forest_scan_only_no_joins(spark):
    """dq_isolation_forest (driver-side split tables, r9): the returned
    scoring plan must be a pure projection over the point scan — the
    per-level split stats collect as bounded rows and compile into
    literal decision expressions, so NO join and NO window may appear
    anywhere; the top-10 must compile to TakeOrderedAndProject
    (per-partition heaps). The point scan is EXACTLY ONE
    ``Scan ExistingRDD``: the 3-column trainer input is pinned once so
    the per-level passes read cached blocks instead of parquet (4.00 ->
    3.39 s); folding the leaf-size pass into an engine-side broadcast
    map instead ran 9.3 s against 3.4 s (OPTIMIZATION_r14.md §4)."""
    q = load_all()["dq_isolation_forest"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # matches every join exec node name
    assert "WindowExec" not in plan and "Window" not in plan
    assert plan.count("Scan ExistingRDD") == 1, plan  # the trainer-input pin
    assert "TakeOrderedAndProject" in plan


def test_kmv_sketch_no_cartesian_and_bounded_aggs(spark):
    """agg_kmv_theta_sketch: the two-level k-smallest build must be
    aggregate-shaped (ObjectHashAggregate for the bounded collect_list
    slices); the 1-row sketch algebra may only nest via broadcast."""
    q = load_all()["agg_kmv_theta_sketch"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "ObjectHashAggregate" in plan


def test_edit_distance_candidates_are_equi_join(spark):
    """dedup_edit_distance_verify: the prefix-key block must plan as an
    equi-join on k — an unblocked Levenshtein all-pairs would appear as
    a nested-loop/cartesian join."""
    q = load_all()["dedup_edit_distance_verify"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_pmi_topk_is_take_ordered(spark):
    """text_pmi_collocations: the final cut compiles to
    TakeOrderedAndProject; marginals ride windows over the bigram
    table (no second corpus aggregation)."""
    q = load_all()["text_pmi_collocations"]
    plan = _plan(q.fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_dedup_pipeline_e2e_no_cartesian_banded_candidates(spark, monkeypatch):
    """dedup_pipeline_end_to_end: the returned (post-CC) plan must hold
    keyed joins only — never a cartesian or nested-loop pair join — and
    the CC labels arrive lineage-truncated: a LocalTableScan from the
    driver union-find below the edge cap, the checkpointed fixpoint
    (Scan ExistingRDD) above it. The candidate/verify stages run BEFORE
    the labels; their shapes are pinned by
    test_edit_distance_candidates_are_equi_join and the minhash
    band-join tests on the component operators."""
    from supabase_etl_spark.operators import cc

    q = load_all()["dedup_pipeline_end_to_end"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LocalTableScan" in plan  # driver-computed CC labels
    assert "BroadcastHashJoin" in plan  # the bounded labels attach keyed
    monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", 0)
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed CC labels
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_multimodal_dedup_pipeline_candidates_bucketed(spark):
    """multimodal_dedup_pipeline_e2e: candidates come from the aHash
    signature bucket join; the decode is pinned (one Scan ExistingRDD
    feeds every consumer) and no stage goes all-pairs."""
    q = load_all()["multimodal_dedup_pipeline_e2e"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # the pinned single decode pass
    assert "ahash" in plan


def test_corpus_prepare_bloom_broadcast_before_verify(spark):
    """corpus_prepare_end_to_end: the Bloom bitmap must arrive as a
    BROADCAST (the gram stream dies map-side on bit tests before any
    shuffle); the exact verify join stays keyed."""
    q = load_all()["corpus_prepare_end_to_end"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "xxhash64" in plan  # the 5 JVM bit-test probes
    # scan-once discipline (VERDICT r9 task 1): downstream stages read
    # the checkpoint-pinned tokenized frame, never a fresh corpus
    # derivation — the r9 plan re-scanned documents 16 times.
    assert "Scan ExistingRDD" in plan


def test_ann_recall_audit_partial_topk(spark):
    """sim_ann_recall_audit: both rank<=k filters must compile through
    WindowGroupLimit (per-partition partial top-k before the qid
    shuffle) so neither retrieval path funnels the corpus through one
    task."""
    q = load_all()["sim_ann_recall_audit"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_knn_graph_bucket_join_partial_topk(spark):
    """sim_knn_graph_bucketed: candidates must arrive through the
    bucket equi-join (never a cartesian self-pairing) and the per-node
    top-k must compile through WindowGroupLimit so no node's candidate
    list funnels the corpus through one task; the mutuality self-join
    stays keyed."""
    q = load_all()["sim_knn_graph_bucketed"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_winnowing_windows_are_doc_partitioned(spark):
    """text_winnowing_fingerprint: every window partitions by doc_id
    (the registry lint proves boundedness; this pins the plan against a
    per-window explode regression) and the share join is a keyed join
    on the gram hash."""
    q = load_all()["text_winnowing_fingerprint"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r12: the lag/lead windows moved inside the sel localCheckpoint
    # pin (scan-leaf lint), so the doc-partitioning assertion runs on
    # the BUILDER plan — since r13 the query's ACTUAL builder frame
    # (module-level winnowing_selected_builder), not an inline
    # re-implementation that could drift from the query (ADVICE r12).
    import re

    from supabase_etl_spark.queries.llm_text import winnowing_selected_builder

    _, sel = winnowing_selected_builder(spark, SF)
    builder_plan = _plan(sel)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", builder_plan)
    assert specs, "expected windowspecdefinition nodes in the builder plan"
    for s in specs:
        assert s.lstrip().startswith("doc_id"), f"window not doc-partitioned: {s}"


def test_cox_score_prefix_shuffle_no_global_window(spark):
    """events_cox_score_test: the risk-set cumulatives must ride the
    distributed prefix construction (range exchange + checkpointed
    scan), never an unpartitioned corpus window; the final panel join
    is a broadcast of the 1-row aggregate."""
    q = load_all()["events_cox_score_test"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # the pinned range partitioning
    assert "BroadcastExchange" in plan


def test_audio_dedup_pipeline_signature_bucketed(spark):
    """multimodal_audio_dedup_pipeline_e2e: the returned (post-CC) plan
    holds keyed joins only and arrives checkpoint-truncated (the CC
    fixpoint and the pinned decode). The candidate/verify stage runs
    BEFORE those checkpoints, so its shape is pinned separately below
    on the same operators: the pair join must be an equi-join on the
    coarse signature, never a cartesian."""
    from pyspark.sql import functions as F

    from supabase_etl_spark.operators import multimodal as M
    from supabase_etl_spark.queries.llm_multimodal import (
        AUDIO_BLOCKS,
        CANON_RATE,
        COARSE_DIV,
    )

    q = load_all()["multimodal_audio_dedup_pipeline_e2e"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # pinned decode + CC labels

    # pre-CC candidate/verify shape (what the checkpoint hides above)
    ids = spark.range(8).select(F.col("id").alias("doc_id"))
    feats = M.audio_canonical_features(
        M.generate_audio(ids), CANON_RATE, AUDIO_BLOCKS
    )
    coarse = [
        (F.element_at("b", i + 1) / COARSE_DIV).cast("long")
        for i in range(AUDIO_BLOCKS)
    ]
    nodes = feats.select(
        F.col("uri").alias("node"),
        F.col("sum_abs"),
        F.concat_ws(":", F.col("m"), *coarse).alias("sig"),
    )
    a = nodes.select("sig", F.col("node").alias("na"), F.col("sum_abs").alias("sa"))
    b = nodes.select("sig", F.col("node").alias("nb"), F.col("sum_abs").alias("sb"))
    cand_plan = _plan(
        a.join(b, "sig").filter(
            (F.col("na") < F.col("nb")) & (F.col("sa") == F.col("sb"))
        )
    )
    assert "CartesianProduct" not in cand_plan
    assert "BroadcastNestedLoopJoin" not in cand_plan
    assert "sig" in cand_plan


def test_video_dedup_pipeline_signature_bucketed(spark):
    """multimodal_video_dedup_pipeline_e2e: keyed joins only in the
    returned (post-CC) plan, checkpoint-truncated decode + CC; the
    candidate join shape (equi-join on the coarse per-frame signature)
    is pinned on the pre-CC operators below."""
    from pyspark.sql import functions as F

    from supabase_etl_spark.operators import multimodal as M
    from supabase_etl_spark.queries.llm_multimodal import VCANON_FPS, VCOARSE_DIV

    q = load_all()["multimodal_video_dedup_pipeline_e2e"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # pinned decode + CC labels

    ids = spark.range(6).select(F.col("id").alias("doc_id"))
    feats = M.video_canonical_features(M.generate_videos(ids), VCANON_FPS)
    coarse = F.array_join(
        F.transform(
            F.col("luma"), lambda x: (x / VCOARSE_DIV).cast("long").cast("string")
        ),
        ":",
    )
    nodes = feats.select(
        F.col("uri").alias("node"),
        F.col("luma"),
        F.concat_ws("|", F.col("m"), coarse).alias("sig"),
    )
    a = nodes.select("sig", F.col("node").alias("na"), F.col("luma").alias("la"))
    b = nodes.select("sig", F.col("node").alias("nb"), F.col("luma").alias("lb"))
    cand_plan = _plan(
        a.join(b, "sig").filter(
            (F.col("na") < F.col("nb")) & (F.col("la") == F.col("lb"))
        )
    )
    assert "CartesianProduct" not in cand_plan
    assert "BroadcastNestedLoopJoin" not in cand_plan
    assert "sig" in cand_plan


def test_exact_substring_hash_keyed_no_pairs(spark, pin_spy):
    """dedup_exact_substring: the dup test must be hash-keyed (semi
    join after the window-hash aggregate), never doc x doc; the shared
    tokenized/window frames arrive through the localCheckpoint pin
    (scan-once, hygiene-sanctioned). The semi join runs inside a pinned
    builder, so the pinned plans are read too: one of them joins on the
    window hash alone, with no residual condition (a doc x doc join of
    the windows on ``h`` and ``doc_id <>`` carries one)."""
    q = load_all()["dedup_exact_substring"]
    plan = _plan(q.fn(spark, SF))
    plans = [plan] + [_plan(b) for b in pin_spy]
    assert not any("CartesianProduct" in p for p in plans)
    assert not any("BroadcastNestedLoopJoin" in p for p in plans)
    semi = re.compile(r"Join \[h#\d+L\], \[h#\d+L\], LeftSemi(, Build\w+)?(, false)?$")
    assert any(semi.search(line) for p in plans for line in p.splitlines())
    assert "Scan ExistingRDD" in plan


def test_exact_substring_hashes_windows_with_xxhash64(spark, pin_spy):
    """dedup_exact_substring has one window hash, xxhash64: no plan it
    executes, its pinned builders included, computes md5."""
    q = load_all()["dedup_exact_substring"]
    plans = [_plan(q.fn(spark, SF))] + [_plan(b) for b in pin_spy]
    assert any("xxhash64(" in p for p in plans)
    assert not any("md5(" in p for p in plans)


def test_cdc_chunks_row_local_boundaries(spark):
    """dedup_cdc_chunks: boundary detection is a row-local higher-order
    filter (no explode of the position stream before the chunk stage)
    and the cross-doc dedup joins on the chunk hash only."""
    q = load_all()["dedup_cdc_chunks"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan


def test_hamming_topk_partial_topk(spark):
    """sim_hamming_topk: the probe fan-out is the intended broadcast
    nested-loop (queries x corpus, one corpus pass) and the per-probe
    top-k compiles through WindowGroupLimit — no probe funnels the
    corpus into one task."""
    q = load_all()["sim_hamming_topk"]
    plan = _plan(q.fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_kfold_cv_single_corpus_aggregation(spark):
    """ml_eval_kfold_cv: the fold table is checkpoint-pinned so the
    global rollup and the per-fold join read ONE materialization —
    naive CV's K corpus re-reads must not reappear."""
    q = load_all()["ml_eval_kfold_cv"]
    plan = _plan(q.fn(spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan  # K-row global stats broadcast


def test_bounded_graph_broadcast_gate(spark):
    """VERDICT r13 task 5: the bounded-graph broadcast hints in
    graph_ktruss / graph_label_propagation are GATED — an unbounded
    caller (bounded_graph=False) must fall back to AQE-planned keyed
    joins, never inherit a driver-OOM broadcast hint."""
    from supabase_etl_spark.queries.analytics import (
        graph_ktruss,
        graph_label_propagation,
    )

    # bounded (default): broadcasts present
    assert "BroadcastHashJoin" in _plan(graph_ktruss(spark, SF))

    # unbounded: no FORCED broadcast hint anywhere in the optimized
    # logical plan (AQE may still convert at RUNTIME from true sizes,
    # which is the point: the plan must not force it)
    def hinted(df):
        return "strategy=broadcast" in (
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    assert hinted(graph_ktruss(spark, SF, bounded_graph=True))
    assert not hinted(graph_ktruss(spark, SF, bounded_graph=False))
    assert hinted(graph_label_propagation(spark, SF, bounded_graph=True))
    assert not hinted(
        graph_label_propagation(spark, SF, bounded_graph=False)
    )
