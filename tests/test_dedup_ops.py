"""Unit coverage for operators/dedup.py beyond the oracle queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


def test_prefix_variant_matches_naive(spark):
    """The prefix-filtered set-similarity join is result-identical to
    the inverted-index join (zero recall loss at t=0.8)."""
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    naive = {tuple(r) for r in D.jaccard_pairs(d, 0.8).collect()}
    prefix = {tuple(r) for r in D.jaccard_pairs_prefix(d, 0.8).collect()}
    assert naive == prefix
    assert len(naive) > 0, "sf0.001 should contain planted near-dups"


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",), ("one two three four",)], "text string")
    rows = df.select(D.shingles(F.col("text")).alias("sh")).collect()
    assert rows[0]["sh"] == ["a b"]  # < k tokens -> full run as one shingle
    assert rows[1]["sh"] == ["one two three", "two three four"]


def test_minhash_signature_is_min_over_band_hashes(spark):
    ds = spark.createDataFrame([(1, 5), (1, 9), (2, 5)], "doc_id long, sid int")
    sig = D.minhash_signature(ds).collect()
    by_doc = {r["doc_id"]: r for r in sig}
    a0, b0 = D.MINHASH_COEFFS[0]
    assert by_doc[1]["h0"] == min(
        (a0 * 5 + b0) % D.MINHASH_P, (a0 * 9 + b0) % D.MINHASH_P
    )
    assert by_doc[2]["h0"] == (a0 * 5 + b0) % D.MINHASH_P


def test_dot_double_matches_python(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>")
    got = df.select(D.dot_double(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]
    assert got == 1.0 * 4.0 + 2.0 * 5.0 + 3.0 * 6.0


def test_cosine_of_identical_vectors_is_one(spark):
    df = spark.createDataFrame([([0.5, -0.25, 0.125],)], "v array<double>")
    got = df.select(D.cosine(F.col("v"), F.col("v")).alias("c")).collect()[0]["c"]
    assert abs(got - 1.0) < 1e-12


def test_sorted_neighborhood_recovers_planted_near_dups(spark):
    """SNM is a blocking heuristic; on the planted corpus it must be
    exact: a truncated copy shares its original's first 64 normalized
    chars, so the pair sorts adjacent and falls inside the W-window.
    Every planted pair that clears the Jaccard threshold must appear."""
    from supabase_etl_spark.queries import llm_dedup as L

    pairs = {
        (r["ida"], r["idb"])
        for r in L.dedup_sorted_neighborhood(spark, "/root/testdata/sf0.001").collect()
    }
    assert pairs, "no SNM pairs found at all"
    # recompute ground truth for the planted (doc, doc+OFFSET) pairs only
    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    trunc = F.expr("substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))")
    planted = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + L.COPY_OFFSET).alias("doc_id"), trunc.alias("text")
    )
    both = d.unionByName(planted)
    sh = D.exploded_shingles(both)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    planted_pairs = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id") + L.COPY_OFFSET)
            & (F.col("a.s") == F.col("b.s")),
        )
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.alias("za"), F.col("ida") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("idb") == F.col("zb.doc_id"))
        .filter(
            F.col("inter") / (F.col("za.n") + F.col("zb.n") - F.col("inter"))
            >= L.JACCARD_THRESHOLD
        )
        .select("ida", "idb")
        .collect()
    )
    missed = {(r["ida"], r["idb"]) for r in planted_pairs} - pairs
    assert not missed, f"SNM missed planted near-dup pairs: {sorted(missed)[:5]}"


def test_exact_substring_window_hash_is_collision_free(spark):
    """dedup_exact_substring keys its token windows by xxhash64; the
    DuckDB oracle keys them by md5. Both give the exact-content ledger
    as long as neither merges two distinct windows: over the test
    corpus each hash is injective on window text."""
    from supabase_etl_spark.operators.text import tokens
    from supabase_etl_spark.queries.llm_dedup import XS_K

    t = load_table(spark, SF, "documents").select(tokens(F.col("text")).alias("t"))
    w = t.filter(F.size("t") >= XS_K).select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {XS_K} + 1), "
                f"i -> array_join(slice(t, i, {XS_K}), ' '))"
            )
        ).alias("w")
    )
    n_text, n_xx, n_md5 = w.agg(
        F.count_distinct("w"), F.count_distinct(F.xxhash64("w")), F.count_distinct(F.md5("w"))
    ).first()
    assert n_text > 0
    assert n_xx == n_md5 == n_text


def test_dedup_cluster_labels_match_bruteforce(spark):
    """The dedup callers' two uses of operators/cc.py: the member table
    (corpus_curate, dedup_pipeline_end_to_end) and the full-corpus
    labels (dedup_clusters, split_leakage_safe) must label every doc
    with its component's min id — including chain components and
    isolated docs (own id), and an empty pair graph must short-circuit.
    Checked on the driver union-find and, with the edge cap at 0, on
    the distributed star fixpoint."""
    from supabase_etl_spark.operators import cc

    # graph: clique {1,2,3}, chain 10-11-12-13-14 (diameter 4), pair
    # {20,21}; isolated: 30, 31
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (13, 14), (20, 21)],
        "src bigint, dst bigint",
    )
    d = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 13, 14, 20, 21, 30, 31)],
        "node bigint",
    )
    want = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10), (13, 10), (14, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 31),
    }
    empty = pairs.filter("src < 0")
    for cap in (cc.DRIVER_CC_MAX_EDGES, 0):  # driver, distributed
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "DRIVER_CC_MAX_EDGES", cap)
            got = {tuple(r) for r in cc.connected_components(d, pairs).collect()}
            assert got == want, cap
            # member table holds ONLY edge-endpoint vertices
            members = {tuple(r) for r in cc.component_members(pairs)[0].collect()}
            assert members == {(i, c) for i, c in want if i < 30}, cap
            # empty pair graph: every doc is its own singleton cluster
            got_empty = {tuple(r) for r in cc.connected_components(d, empty).collect()}
            assert got_empty == {(i, i) for i, _ in want}, cap
            assert cc.component_members(empty)[0].count() == 0, cap
