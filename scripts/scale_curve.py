"""Scaling-curve evidence for the heavy dedup/text operators.

Times the scale-critical pipelines on 1x / 3x / 10x blowups of the
sf0.1 documents corpus (runtime self-union with shifted ids and
PER-COPY token tags — tagging every token makes each copy's shingles
disjoint from the others', so the blowup multiplies corpus *size*
while keeping duplicate *density* constant, which is what a real 10x
corpus looks like; untagged copies would multiply the pair OUTPUT
quadratically by construction and measure the workload, not the
plan). A plan whose wall time grows ~linearly in corpus size here is
shuffle/scan-bound, not pair-bound — the property that decides whether
it survives 100 TB. Quadratic plans (the ones round 1 flagged and
rounds 2-3 replaced) blow up visibly at 10x.

Usage:
    python scripts/scale_curve.py            # prints a markdown table
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from supabase_etl_spark.pinning import pin  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default 1/3/10; VERDICT r9 task 5 runs 1/30/100 for the flagship
# pipelines via SPARK_GRAFT_BLOWUPS=1,30,100
BLOWUPS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_BLOWUPS", "1,3,10").split(",")
)
ID_STRIDE = 10_000_000  # distinct doc_id space per copy


def blowup_docs(spark, mult: int):
    from supabase_etl_spark.io.readers import load_table

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    copies = [
        d.select(
            (F.col("doc_id") + i * ID_STRIDE).alias("doc_id"),
            # tag every token so copy i shares no shingles with copy j
            F.regexp_replace("text", r"(\S+)", rf"$1_c{i}").alias("text"),
        )
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


_BLOWN_DIRS: dict[int, str] = {}


def _blown_sf_dir(spark, mult: int) -> str:
    """Materialize a blown-up sf dir (documents + orders parquet) once
    per multiplier, so real query fns can run unmodified on 1x/3x/10x
    inputs. Write cost is OUTSIDE the timed region (cached per mult)."""
    import tempfile

    if mult in _BLOWN_DIRS:
        return _BLOWN_DIRS[mult]
    from supabase_etl_spark.io.readers import load_table

    d = tempfile.mkdtemp(prefix=f"scale_sf_{mult}x_")
    # carry source/lang so full-pipeline real fns (corpus_prepare) run;
    # in-memory ops via blowup_docs keep their 2-column contract
    full = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    fcopies = [
        full.select(
            (F.col("doc_id") + i * ID_STRIDE).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", rf"$1_c{i}").alias("text"),
            "lang",
            "source",
        )
        for i in range(mult)
    ]
    fout = fcopies[0]
    for c in fcopies[1:]:
        fout = fout.unionByName(c)
    fout.coalesce(max(8, mult // 4)).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    copies = [
        o.select(
            (F.col("o_orderkey") + i * ID_STRIDE).alias("o_orderkey"),
            (F.col("o_totalprice") + F.lit(i * 0.001)).alias("o_totalprice"),
        )
        for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(d, "orders.parquet")
    )
    _BLOWN_DIRS[mult] = d
    return d


def main() -> None:
    from supabase_etl_spark.operators import dedup as D
    from supabase_etl_spark.session import get_spark

    spark = get_spark("scale-curve")

    def t_exact(docs):
        docs.groupBy(F.sha2("text", 256).alias("h")).agg(
            F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n")
        ).write.format("noop").mode("overwrite").save()

    def t_minhash(docs):
        sids = D.shingle_ids(docs)
        bands = D.band_keys(D.minhash_signature(sids))
        (
            bands.alias("a")
            .join(
                bands.alias("b"),
                [F.col("a.band") == F.col("b.band")]
                + [
                    F.col(f"a.k{i}") == F.col(f"b.k{i}")
                    for i in range(D.ROWS_PER_BAND)
                ]
                + [F.col("a.doc_id") < F.col("b.doc_id")],
            )
            .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
            .distinct()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_prefix(docs):
        D.jaccard_pairs_prefix(docs, 0.8).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_tokens(docs):
        from supabase_etl_spark.operators.text import tokens

        docs.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
        ).groupBy().agg(F.sum("n_tokens")).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_snm(docs):
        # sorted-neighborhood blocking: distributed rank + W-window
        # candidate pairs + exact-Jaccard verify (the query's shape,
        # minus the planted copies)
        from pyspark.sql import Window as W

        from supabase_etl_spark.queries.llm_dedup import (
            JACCARD_THRESHOLD,
            SNM_KEY_CHARS,
            SNM_WINDOW,
        )

        key = F.lower(
            F.regexp_replace(
                F.substring(F.col("text"), 1, SNM_KEY_CHARS), "[^a-zA-Z0-9]", ""
            )
        )
        keyed = docs.select("doc_id", key.alias("k"))
        par = docs.sparkSession.sparkContext.defaultParallelism
        ranged = keyed.repartitionByRange(par, "k", "doc_id").withColumn(
            "pid", F.spark_partition_id()
        )
        local = ranged.withColumn(
            "lrn", F.row_number().over(W.partitionBy("pid").orderBy("k", "doc_id"))
        )
        offsets = (
            ranged.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "off",
                F.coalesce(
                    F.sum("n").over(
                        W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .select("pid", "off")
        )
        ranked = local.join(F.broadcast(offsets), "pid").select(
            "doc_id", (F.col("lrn") + F.col("off")).alias("rn")
        )
        probe = ranked.select(
            F.col("doc_id").alias("id_a"),
            F.explode(F.sequence(F.lit(1), F.lit(SNM_WINDOW))).alias("i"),
            F.col("rn"),
        ).select("id_a", (F.col("rn") + F.col("i")).alias("rn"))
        cand = probe.join(
            ranked.select(F.col("doc_id").alias("id_b"), "rn"), "rn"
        ).select(
            F.least("id_a", "id_b").alias("ida"),
            F.greatest("id_a", "id_b").alias("idb"),
        )
        sh = D.exploded_shingles(docs)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        inter = (
            cand.join(sh.alias("sa"), F.col("ida") == F.col("sa.doc_id"))
            .join(
                sh.alias("sb"),
                (F.col("idb") == F.col("sb.doc_id"))
                & (F.col("sa.s") == F.col("sb.s")),
            )
            .groupBy("ida", "idb")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        (
            inter.join(sizes.alias("za"), F.col("ida") == F.col("za.doc_id"))
            .join(sizes.alias("zb"), F.col("idb") == F.col("zb.doc_id"))
            .filter(
                F.col("inter") / (F.col("za.n") + F.col("zb.n") - F.col("inter"))
                >= JACCARD_THRESHOLD
            )
            .select("ida", "idb")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_bloom(docs):
        # bloom build over a 5% holdout + dense-bitmap probe of the rest
        from supabase_etl_spark.operators.text import ngrams_all, tokens
        from supabase_etl_spark.queries.llm_curation import (
            BLOOM_K_HASH,
            BLOOM_M_BITS,
            DECON_K,
            _bloom_bitmap,
            _bloom_hit_cond,
        )

        tk = docs.select(
            "doc_id",
            tokens(F.col("text")).alias("t"),
            (F.col("doc_id") % 20 == 0).alias("is_bench"),
        )
        bench = (
            tk.filter("is_bench")
            .select(F.explode(ngrams_all(F.col("t"), DECON_K)).alias("g"))
            .distinct()
        )
        bloom = _bloom_bitmap(docs.sparkSession, bench)
        pr = tk.filter(~F.col("is_bench")).select(
            "doc_id", F.explode(ngrams_all(F.col("t"), DECON_K)).alias("g")
        )
        for j in range(BLOOM_K_HASH):
            pr = pr.withColumn(
                f"p{j}", F.pmod(F.xxhash64("g", F.lit(j)), F.lit(BLOOM_M_BITS))
            )
        (
            pr.join(F.broadcast(bloom))
            .filter(_bloom_hit_cond())
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_cand"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_dsir(docs):
        # DSIR scoring shape: gram stream -> 256-bucket ratio broadcast
        # -> per-doc decimal sum -> TakeOrdered (queries/llm_sampling.py)
        from supabase_etl_spark.queries.llm_sampling import DSIR_BUCKETS

        grams = docs.select(
            "doc_id",
            (F.col("doc_id") % 7 == 0).alias("tgt"),
            F.explode(
                F.array_remove(F.split(F.col("text"), r"\s+"), "")
            ).alias("g"),
        )
        bucket = (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint")
            % DSIR_BUCKETS
        )
        b = grams.select("doc_id", "tgt", bucket.alias("b"))
        rcnt = b.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
        tcnt = b.filter("tgt").groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
        ratio = rcnt.join(tcnt, "b", "left").select(
            "b",
            (
                F.log((F.coalesce("ct", F.lit(0)) + 1).cast("double"))
                - F.log((F.col("cr") + 1).cast("double"))
            ).alias("lr"),
        )
        (
            b.join(F.broadcast(ratio), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("lr").cast("decimal(38,18)")).alias("lw"))
            .orderBy(F.desc("lw"))
            .limit(50)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_kcore(docs):
        # one peel round at corpus scale: degree agg + two semi-joins
        # over a synthetic doc-adjacency (consecutive ids share an edge
        # fan of width 8 — degree-bounded, size-linear in the corpus)
        e = docs.select(
            F.col("doc_id").alias("u"),
            F.explode(
                F.sequence(F.col("doc_id") + 1, F.col("doc_id") + 8)
            ).alias("v"),
        )
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        alive = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter("deg >= 12")
            .select("u")
        )
        (
            sym.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .groupBy("u")
            .agg(F.count(F.lit(1)))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_ktruss(docs):
        # one truss round at corpus scale: triangle enumeration (wedge
        # join closed by the third edge) + per-edge support + semi-join
        # peel, over the same degree-bounded synthetic adjacency as
        # t_kcore (fan width 8 — triangles per vertex are constant, so
        # a linear curve means the joins are keyed, not pair-bound)
        e = docs.select(
            F.col("doc_id").alias("u"),
            F.explode(
                F.sequence(F.col("doc_id") + 1, F.col("doc_id") + 8)
            ).alias("v"),
        )
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tri = (
            e1.join(
                e2,
                (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
            )
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("x"), F.col("e1.v").alias("y"),
                F.col("e2.v").alias("z"),
            )
        )
        roles = (
            tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
            .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
            .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
        )
        sup = (
            roles.groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter("sup >= 2")
            .select("u", "v")
        )
        (
            e.join(sup, ["u", "v"], "left_semi")
            .groupBy("u")
            .agg(F.count(F.lit(1)))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def _er_pairs(cust, fine: bool):
        # Fellegi-Sunter candidate stage: block, pair, count. Coarse
        # blocking = nation only (25 keys at ANY corpus size — block
        # population grows linearly with data, so candidate PAIRS grow
        # quadratically); fine blocking adds the balance band, keeping
        # block populations ~constant under growth.
        a = cust.select(F.col("c_custkey").alias("ka"), F.col("c_nationkey").alias("na"),
                        F.col("c_acctbal").alias("ba"))
        b = cust.select(F.col("c_custkey").alias("kb"), F.col("c_nationkey").alias("nb"),
                        F.col("c_acctbal").alias("bb"))
        cond = (F.col("na") == F.col("nb")) & (F.col("ka") < F.col("kb"))
        if fine:
            cond = cond & (
                F.floor(F.col("ba") / 100) == F.floor(F.col("bb") / 100)
            )
        a.join(b, cond).groupBy().count().write.format("noop").mode(
            "overwrite"
        ).save()

    def blowup_customers(mult: int):
        from supabase_etl_spark.io.readers import load_table

        c = load_table(spark, SF_DIR, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal"
        )
        copies = [
            c.select(
                (F.col("c_custkey") + i * ID_STRIDE).alias("c_custkey"),
                "c_nationkey",
                (F.col("c_acctbal") + F.lit(i * 0.001)).alias("c_acctbal"),
            )
            for i in range(mult)
        ]
        out = copies[0]
        for cc in copies[1:]:
            out = out.unionByName(cc)
        return out

    def t_er_coarse(docs):
        _er_pairs(blowup_customers(docs.__mult__), fine=False)

    def t_er_fine(docs):
        _er_pairs(blowup_customers(docs.__mult__), fine=True)

    def t_containment(docs):
        # dedup_containment's inverted-index intersection: one shuffle
        # on the shingle hash, per-pair count, sizes joined after. The
        # r5 verdict's super-linear suspect — pair output per shingle
        # is quadratic in posting-list length, so the curve tests
        # whether constant duplicate density (disjoint per-copy
        # shingles) keeps posting lists, and thus growth, linear.
        sh = pin(
            D.exploded_shingles(docs)
            .select("doc_id", F.xxhash64("s").alias("s"))
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        (
            inter.join(
                sizes.select(F.col("doc_id").alias("ida"), F.col("n").alias("na")), "ida"
            )
            .join(
                sizes.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb")), "idb"
            )
            .filter(
                F.col("inter") / F.least("na", "nb") >= 0.9
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def blowup_embeddings(mult: int):
        from supabase_etl_spark.io.readers import load_table

        e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
        copies = [
            e.select((F.col("vec_id") + i * ID_STRIDE).alias("vec_id"), "embedding")
            for i in range(mult)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    def t_maxsim(docs):
        # sim_maxsim_late_interaction's grid: fixed 4-query broadcast
        # batch x growing corpus, 8x8 max-dot per pair, per-query
        # top-k. One corpus pass per batch => the curve must be linear.
        from supabase_etl_spark.queries.llm_similarity import (
            MAXSIM_SUBDIM,
            MAXSIM_TOKENS,
            MAXSIM_TOP_K,
        )
        from pyspark.sql import Window as W

        e = blowup_embeddings(docs.__mult__)
        emb = F.col("embedding").cast("array<double>")
        toks = F.transform(
            F.sequence(F.lit(0), F.lit(MAXSIM_TOKENS - 1)),
            lambda j: F.slice(emb, j * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM),
        )
        n_q = MAXSIM_TOP_K + 1
        q = e.filter(F.col("vec_id") < n_q).select(
            F.col("vec_id").alias("qid"), toks.alias("qt")
        )
        c = e.filter(F.col("vec_id") >= n_q).select(
            F.col("vec_id").alias("cid"), toks.alias("ct")
        )

        def subdot(qv, cv):
            return F.aggregate(
                F.zip_with(qv, cv, lambda x, y: x * y), F.lit(0.0), lambda a2, x: a2 + x
            )

        maxsim = F.aggregate(
            F.col("qt"),
            F.lit(0.0),
            lambda acc, qv: acc
            + F.array_max(F.transform(F.col("ct"), lambda cv: subdot(qv, cv))),
        )
        w = W.partitionBy("qid").orderBy(F.col("maxsim").desc(), F.col("cid").asc())
        (
            c.crossJoin(F.broadcast(q))
            .select("qid", "cid", maxsim.alias("maxsim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= MAXSIM_TOP_K)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_epoch_shuffle(docs):
        # sample_epoch_shuffle's shape: 3 epochs x distributed global
        # rank (range-repartition + broadcast offsets + per-epoch rebase)
        from pyspark.sql import Window as W

        epochs = spark.range(3).select(F.col("id").alias("epoch"))
        keyed = docs.crossJoin(F.broadcast(epochs)).select(
            "epoch",
            "doc_id",
            F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))).alias("sk"),
        )
        par = spark.sparkContext.defaultParallelism
        ranged = keyed.repartitionByRange(par, "epoch", "sk", "doc_id").withColumn(
            "pid", F.spark_partition_id()
        )
        local = ranged.withColumn(
            "lrn",
            F.row_number().over(W.partitionBy("pid").orderBy("epoch", "sk", "doc_id")),
        )
        offsets = (
            ranged.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "off",
                F.coalesce(
                    F.sum("n").over(
                        W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .select("pid", "off")
        )
        ranked = local.join(F.broadcast(offsets), "pid").select(
            "epoch", "doc_id", (F.col("lrn") + F.col("off")).alias("grn")
        )
        base = ranked.groupBy("epoch").agg(F.min("grn").alias("base"))
        (
            ranked.join(F.broadcast(base), "epoch")
            .select("epoch", "doc_id", (F.col("grn") - F.col("base") + 1).alias("pos"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_source_kl(docs):
        # text_source_kl_divergence's shape: token explode -> vocab-sized
        # joins/aggs only (source derived from doc_id; blowup docs carry
        # no source column)
        from supabase_etl_spark.operators.text import tokens

        tok = docs.select(
            (F.col("doc_id") % 20).alias("source"),
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c_st"))
        stot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
        ct = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
        tot = ct.agg(F.sum("c_t").alias("n"))
        p = F.col("c_st").cast("double") / F.col("n_s").cast("double")
        q = F.col("c_t").cast("double") / F.col("n").cast("double")
        (
            st.join(F.broadcast(stot), "source")
            .join(ct, "t")
            .crossJoin(F.broadcast(tot))
            .select("source", (p * F.log(p / q)).cast("decimal(38,18)").alias("term"))
            .groupBy("source")
            .agg(F.sum("term"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_naive_bayes(docs):
        # ml_nb_train_score's shape: token groupBy builds the vocab
        # model, token-keyed join + doc groupBy scores the corpus
        from supabase_etl_spark.operators.text import tokens

        tok = docs.select(
            "doc_id",
            (F.col("doc_id") % 2).alias("c"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        counts = tok.groupBy("term").agg(
            F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("c1"),
        )
        vocab = counts.filter(F.col("c0") + F.col("c1") >= 3)
        llr = vocab.select(
            "term",
            (
                F.log((F.col("c1") + 1).cast("double"))
                - F.log((F.col("c0") + 1).cast("double"))
            ).alias("w"),
        )
        (
            tok.join(llr, "term")
            .groupBy("doc_id", "c")
            .agg(F.sum("w").alias("margin"))
            .groupBy("c", (F.col("margin") > 0).alias("pred"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_rake(docs):
        # text_rake_keywords' shape: per-doc phrase windows + vocab-
        # sized word stats + phrase rebuild + TakeOrdered top-k
        from pyspark.sql import Window as W

        from supabase_etl_spark.operators.text import STOPWORDS_EN

        tok = docs.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split("text", r"\s+"), lambda t: t != "")
            ).alias("pos", "w0"),
        ).select("doc_id", "pos", F.lower("w0").alias("w"))
        marked = tok.select(
            "doc_id",
            "pos",
            "w",
            F.when(F.col("w").isin(*STOPWORDS_EN), 1).otherwise(0).alias("is_stop"),
        )
        wrun = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
            W.unboundedPreceding, 0
        )
        phrased = (
            marked.select(
                "doc_id", "pos", "w", "is_stop",
                F.sum("is_stop").over(wrun).alias("pid"),
            )
            .filter(F.col("is_stop") == 0)
        )
        with_len = phrased.select(
            "doc_id", "pid", "pos", "w",
            F.count(F.lit(1)).over(W.partitionBy("doc_id", "pid")).alias("plen"),
        )
        word_stats = with_len.groupBy("w").agg(
            F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
        )
        (
            with_len.join(word_stats, "w")
            .groupBy("doc_id", "pid")
            .agg(
                F.sum(F.col("degree").cast("double") / F.col("freq")).alias("score")
            )
            .orderBy(F.col("score").desc())
            .limit(20)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_bleu(docs):
        # text_bleu_pairwise's shape: doc_id+1 pairing, per-(pair, n,
        # gram) count joins, integer clipping
        from supabase_etl_spark.operators.text import ngrams_all, tokens

        toks = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
        h = toks.select(F.col("doc_id").alias("hyp_id"), F.col("ws").alias("hws"))
        r = toks.select(F.col("doc_id").alias("ref_id"), F.col("ws").alias("rws"))
        pairs = h.join(r, F.col("ref_id") == F.col("hyp_id") + 1)

        def gc(col, out):
            g1 = pairs.select(
                "hyp_id", F.lit(1).alias("n"), F.explode(ngrams_all(F.col(col), 1)).alias("g")
            )
            g2 = pairs.select(
                "hyp_id", F.lit(2).alias("n"), F.explode(ngrams_all(F.col(col), 2)).alias("g")
            )
            return g1.unionAll(g2).groupBy("hyp_id", "n", "g").agg(
                F.count(F.lit(1)).alias(out)
            )

        hc, rc = gc("hws", "c"), gc("rws", "cr")
        (
            hc.join(rc, ["hyp_id", "n", "g"], "left")
            .groupBy("hyp_id", "n")
            .agg(
                F.sum(F.least(F.col("c"), F.coalesce(F.col("cr"), F.lit(0)))).alias("m"),
                F.sum("c").alias("tot"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_kmeans_lloyd(docs):
        # embedding_kmeans_lloyd's loop shape (llm_curation.py): 3
        # chained rounds of broadcast-centroid assignment (exact
        # decimal distances over exploded components) + mean recompute,
        # pin-truncated per round. Linear curve = each
        # round is one corpus scan + a k x dim agg; super-linear would
        # mean the chained lineage is re-executing earlier rounds.
        e = blowup_embeddings(docs.__mult__)
        vals = e.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        cents = pin(
            vals.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"), "pos", F.col("v").alias("m")),
            eager=True,
        )
        a = None
        for i in range(3):
            term = ((F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))).cast(
                "decimal(38,18)"
            )
            d = (
                vals.join(F.broadcast(cents), "pos")
                .groupBy("vec_id", "cid")
                .agg(F.sum(term).alias("d2"))
            )
            a = pin(
                d.groupBy("vec_id")
                .agg(F.min(F.struct("d2", "cid")).alias("b"))
                .select("vec_id", F.col("b.cid").alias("cid")),
                eager=True,
            )
            if i < 2:
                cents = pin(
                    vals.join(a, "vec_id")
                    .groupBy("cid", "pos")
                    .agg(
                        (
                            F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
                            / F.count(F.lit(1))
                        ).alias("m")
                    ),
                    eager=True,
                )
        a.groupBy("cid").count().write.format("noop").mode("overwrite").save()

    def t_dbscan_grid(docs):
        # embedding_dbscan_grid's shape: JL 2-D projection, eps-grid
        # bucketing, 3x3 cell-probe neighbor join, core count, CC over
        # core edges (operators/cc.py). Copies are shifted whole cell-
        # regions apart in x (the embedding analog of per-copy token
        # tags) so the blowup grows corpus size at constant density —
        # untranslated copies would stack identical points in the same
        # cells and measure quadratic cell occupancy by construction.
        from supabase_etl_spark.operators.cc import connected_components
        from supabase_etl_spark.queries.llm_similarity import (
            DBSCAN_EPS,
            DBSCAN_EPS2,
            DBSCAN_MINPTS,
            _jl_matrix,
        )

        m = _jl_matrix()[:2]
        rlit = F.expr(
            "array("
            + ", ".join(
                "array(" + ", ".join(str(v) for v in row) + ")" for row in m
            )
            + ")"
        )
        e = blowup_embeddings(docs.__mult__).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("xv")
        ).withColumn("R", rlit)

        def proj(j):
            return F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("xv"),
                        F.element_at(F.col("R"), j + 1),
                        lambda a, b: a * b.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / 4.0,
                9,
            )

        eps, eps2 = F.lit(float(DBSCAN_EPS)), F.lit(float(DBSCAN_EPS2))
        shift = (F.floor(F.col("vec_id") / ID_STRIDE) * 8.0).cast("double")
        pts = e.select(
            "vec_id", (proj(0) + shift).alias("x"), proj(1).alias("y")
        ).select(
            "vec_id", "x", "y",
            F.floor(F.col("x") / eps).cast("bigint").alias("cx"),
            F.floor(F.col("y") / eps).cast("bigint").alias("cy"),
        )
        offs = F.expr("array(-1, 0, 1)")
        probe = (
            pts.select("vec_id", "x", "y", "cx", "cy", F.explode(offs).alias("dx"))
            .select("vec_id", "x", "y", "cx", "cy", "dx", F.explode(offs).alias("dy"))
            .select(
                F.col("vec_id").alias("ida"),
                F.col("x").alias("ax"), F.col("y").alias("ay"),
                (F.col("cx") + F.col("dx")).alias("pcx"),
                (F.col("cy") + F.col("dy")).alias("pcy"),
            )
        )
        right = pts.select(
            F.col("vec_id").alias("idb"),
            F.col("x").alias("bx"), F.col("y").alias("by"),
            F.col("cx").alias("pcx"), F.col("cy").alias("pcy"),
        )
        d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
            F.col("ay") - F.col("by")
        ) * (F.col("ay") - F.col("by"))
        nbr = pin(
            probe.join(right, ["pcx", "pcy"])
            .filter((F.col("ida") != F.col("idb")) & (d2 <= eps2))
            .select("ida", "idb")
        )
        core = (
            nbr.groupBy("ida")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= DBSCAN_MINPTS - 1)
            .select(F.col("ida").alias("vec_id"))
        )
        core_edges = (
            nbr.join(core.select(F.col("vec_id").alias("ida")), "ida")
            .join(core.select(F.col("vec_id").alias("idb")), "idb")
            .select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
        )
        labels = connected_components(
            core.select(F.col("vec_id").alias("node")), core_edges
        )
        labels.groupBy("component").count().write.format("noop").mode(
            "overwrite"
        ).save()

    def t_gemm_topk(docs):
        # sim_topk_gemm_blocked's kernel: broadcast 10-query matrix,
        # one numpy matmul per Arrow batch, per-batch partial top-k,
        # window merge of n_batches x n_queries x k partials. Linear
        # curve = shuffle volume stays corpus-size-independent.
        import numpy as np
        import pandas as pd
        from pyspark.sql import Window as W

        e = blowup_embeddings(docs.__mult__)
        qrows = (
            e.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect()
        )
        qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
        qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
        qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
        bc = spark.sparkContext.broadcast((qids, qmat))

        def gemm_topk(batches):
            b_qids, b_q = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                cids = pdf["vec_id"].to_numpy(dtype=np.int64)
                x = np.array(list(pdf["embedding"]), dtype=np.float64)
                x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
                s = x @ b_q.T
                k = min(10, s.shape[0])
                oq, oc, os_ = [], [], []
                for j in range(s.shape[1]):
                    col = s[:, j]
                    idx = (
                        np.argpartition(-col, k - 1)[:k]
                        if k < col.shape[0]
                        else np.arange(col.shape[0])
                    )
                    order = idx[np.lexsort((cids[idx], -col[idx]))]
                    oq.extend([b_qids[j]] * len(order))
                    oc.extend(cids[order])
                    os_.extend(col[order])
                yield pd.DataFrame({"qid": oq, "cid": oc, "cos_sim": os_})

        partials = (
            e.filter(F.col("vec_id") >= 10)
            .select("vec_id", "embedding")
            .mapInPandas(gemm_topk, schema="qid long, cid long, cos_sim double")
        )
        w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
        (
            partials.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def blowup_events(spark_, mult: int):
        from supabase_etl_spark.io.readers import load_table

        ev = load_table(spark_, SF_DIR, "events").select(
            "user_id", "event_id", "ts", "event_type", "value", "props"
        )
        copies = [
            ev.select(
                (F.col("user_id") + i * ID_STRIDE).alias("user_id"),
                (F.col("event_id") + i * ID_STRIDE).alias("event_id"),
                "ts",
                "event_type",
                # shift each copy's value range so mean-band / device
                # blocks stay disjoint across copies (constant density)
                (F.col("value") + F.lit(i * 1000.0)).alias("value"),
                "props",
            )
            for i in range(mult)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    def t_trajectory(docs):
        # events_trajectory_topk's shape: daily-mean trajectories,
        # mean-signature band candidates, aligned-array HOF distance
        from pyspark.sql import Window as W

        ev = blowup_events(spark, docs.__mult__)
        d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
        cells = (
            ev.crossJoin(F.broadcast(d0))
            .withColumn("d", F.datediff(F.to_date("ts"), F.col("d0")) + 1)
            .filter(F.col("d") <= 14)
            .groupBy("user_id", "d")
            .agg(
                F.round(
                    F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("v")
            )
        )
        traj = cells.groupBy("user_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s.v
            ).alias("t"),
            F.round(
                F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / 14, 6
            ).alias("mu"),
        )
        keyed = traj.select(
            "user_id", "t", F.floor(F.col("mu") / 60.0).cast("bigint").alias("b")
        )
        a, b = keyed.alias("a"), keyed.alias("b")
        cand = a.join(
            b,
            (F.col("b.b") >= F.col("a.b") - 1)
            & (F.col("b.b") <= F.col("a.b") + 1)
            & (F.col("a.user_id") != F.col("b.user_id")),
        ).select(
            F.col("a.user_id").alias("ua"),
            F.col("b.user_id").alias("ub"),
            F.col("a.t").alias("ta"),
            F.col("b.t").alias("tb"),
        )
        dist = cand.select(
            "ua",
            "ub",
            F.array_max(
                F.zip_with(
                    F.slice("ta", 1, F.least(F.size("ta"), F.size("tb"))),
                    F.slice("tb", 1, F.least(F.size("ta"), F.size("tb"))),
                    lambda x, y: F.abs(x - y),
                )
            ).alias("dist"),
        )
        w = W.partitionBy("ua").orderBy("dist", "ub")
        (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_stitching(docs):
        # events_identity_stitching's shape: sparse device fingerprints,
        # device-keyed pair join, log-round star CC
        from supabase_etl_spark.operators.cc import connected_components

        ev = blowup_events(spark, docs.__mult__).filter(
            F.col("event_type") == "purchase"
        )
        device = (
            F.get_json_object("props", "$.k").cast("bigint") * 100000
            + F.pmod(
                F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600),
                F.lit(100000),
            )
            # copy-disjoint device space (the per-copy token-tag analog)
            + (F.floor(F.col("user_id") / ID_STRIDE) * 10_000_000_000)
        )
        du = ev.select("user_id", device.alias("device")).distinct()
        a, b = du.alias("a"), du.alias("b")
        pairs = a.join(
            b,
            (F.col("a.device") == F.col("b.device"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        ).select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        nodes = du.select(F.col("user_id").alias("node")).distinct()
        comp = connected_components(nodes, pairs)
        comp.groupBy("component").count().write.format("noop").mode(
            "overwrite"
        ).save()

    def t_length_batching(docs):
        # sample_length_bucketed_batching's shape: two distributed
        # ranks (length-sorted + md5-shuffled) + per-batch padding aggs
        from supabase_etl_spark.operators.prefix import distributed_cumsum
        from supabase_etl_spark.operators.text import tokens
        from supabase_etl_spark.queries.llm_sampling import BATCH_DOCS

        lens = docs.select(
            "doc_id",
            F.size(tokens(F.col("text"))).alias("n_tok"),
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#batch"))).alias(
                "shuf"
            ),
            F.lit(1).cast("decimal(20,0)").alias("one"),
        )
        ranked = distributed_cumsum(
            lens, "one", [F.col("n_tok"), F.col("doc_id")], out="rn_sorted"
        )
        ranked = distributed_cumsum(
            ranked, "one", [F.col("shuf"), F.col("doc_id")], out="rn_random"
        )
        ranked.select(
            "n_tok",
            F.floor((F.col("rn_sorted").cast("bigint") - 1) / BATCH_DOCS).alias(
                "b"
            ),
        ).groupBy("b").agg(
            F.sum("n_tok"), F.max("n_tok") * F.count(F.lit(1))
        ).write.format("noop").mode("overwrite").save()

    def t_iforest(docs):
        # dq_isolation_forest's REAL r9 code over a blown-up orders
        # table (tmp parquet): driver-side bounded split stats, flat
        # decision exprs, no joins/checkpoints — the query fn itself
        from supabase_etl_spark.queries.dq import dq_isolation_forest

        dq_isolation_forest(spark, docs.__sfdir__).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_edv(docs):
        # dedup_edit_distance_verify's REAL code over blown-up docs:
        # prefix-key blocked equi-join + one bounded levenshtein per
        # candidate pair. Per-copy token tags perturb the normalized
        # prefix keys, so block populations stay ~constant under
        # growth — the coarse-vs-fine ER lesson applied to EDV.
        from supabase_etl_spark.queries.llm_dedup import dedup_edit_distance_verify

        dedup_edit_distance_verify(spark, docs.__sfdir__).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_e2e_pipeline(docs):
        # the composed LSH -> jaccard -> levenshtein -> CC -> survivor
        # pipeline (dedup_pipeline_end_to_end), real fn over blown-up docs
        from supabase_etl_spark.queries.llm_dedup import dedup_pipeline_end_to_end

        dedup_pipeline_end_to_end(spark, docs.__sfdir__).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_exact_substring(docs):
        # ExactSubstr dedup (dedup_exact_substring), real fn over
        # blown-up docs
        from supabase_etl_spark.queries.llm_dedup import dedup_exact_substring

        dedup_exact_substring(spark, docs.__sfdir__).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_cdc_chunks(docs):
        # content-defined chunking dedup (dedup_cdc_chunks), real fn
        from supabase_etl_spark.queries.llm_dedup import dedup_cdc_chunks

        dedup_cdc_chunks(spark, docs.__sfdir__).write.format("noop").mode(
            "overwrite"
        ).save()

    def t_mm_incremental_ingest(docs):
        # multimodal incremental-ingest capstone (real fn, real
        # streaming harness + manifest commits) over a growing image
        # count: 256 x mult images through the same 3-micro-batch flow.
        # Image count, not document blowup, is the scale axis — the
        # fixture cap is lifted through the fn's ``cap`` keyword.
        from supabase_etl_spark.queries.streaming import (
            multimodal_incremental_ingest,
        )

        multimodal_incremental_ingest(
            spark, SF_DIR, cap=256 * docs.__mult__
        ).write.format("noop").mode("overwrite").save()

    def t_aud_incremental_ingest(docs):
        # audio incremental-ingest capstone (real fn, real streaming
        # harness + manifest commits) over a growing clip count: 512 x
        # mult clips through the same 3-micro-batch flow (VERDICT r11
        # task 5 — scale rows for BOTH new capstones).
        from supabase_etl_spark.queries.streaming import (
            multimodal_audio_incremental_ingest,
        )

        multimodal_audio_incremental_ingest(
            spark, SF_DIR, cap=512 * docs.__mult__
        ).write.format("noop").mode("overwrite").save()

    def t_corpus_prepare(docs):
        # the composed quality-gate -> lang-ID -> Bloom-decontaminate ->
        # mixture-ledger pipeline (corpus_prepare_end_to_end), real fn
        # over blown-up docs (scan-once persist included in the timing)
        from supabase_etl_spark.queries.llm_curation import (
            corpus_prepare_end_to_end,
        )

        corpus_prepare_end_to_end(spark, docs.__sfdir__).write.format(
            "noop"
        ).mode("overwrite").save()

    def t_ssim_phash(docs):
        # multimodal_ssim_over_phash_candidates' shape over a growing
        # image set: ONE combined decode pass (gray + aHash, pinned),
        # signature-bucket candidates, moment join, zip_with SSIM core
        from supabase_etl_spark.operators import multimodal as M

        mult = docs.__mult__
        ids = spark.range(100 * mult).select(F.col("id").alias("doc_id"))
        dec = pin(M.decode_gray_with_ahash(M.generate_images(ids)), eager=True)
        hashed = dec.select("uri", "ahash")
        cand = (
            hashed.alias("x")
            .join(
                hashed.alias("y"),
                (F.col("x.ahash") == F.col("y.ahash"))
                & (F.col("x.uri") < F.col("y.uri")),
            )
            .select(F.col("x.uri").alias("ua"), F.col("y.uri").alias("ub"))
        )
        mom = dec.select(
            "uri", "w", "h", "gray",
            F.aggregate("gray", F.lit(0).cast("long"), lambda a, x: a + x).alias("s1"),
        )
        a = mom.select(F.col("uri").alias("ua"), F.col("w").alias("wa"),
                       F.col("h").alias("ha"), F.col("gray").alias("ga"),
                       F.col("s1").alias("s1a"))
        b = mom.select(F.col("uri").alias("ub"), F.col("w").alias("wb"),
                       F.col("h").alias("hb"), F.col("gray").alias("gb"),
                       F.col("s1").alias("s1b"))
        (
            cand.join(a, "ua")
            .join(b, "ub")
            .filter((F.col("wa") == F.col("wb")) & (F.col("ha") == F.col("hb")))
            .select(
                "ua", "ub",
                F.aggregate(
                    F.zip_with("ga", "gb", lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("sab"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def t_winnowing(docs):
        # text_winnowing_fingerprint's REAL code over blown-up docs:
        # one gram explode, per-doc lag/lead windows, vocab-sized share
        # groupBy — should track token count ~linearly
        from supabase_etl_spark.queries.llm_text import text_winnowing_fingerprint

        text_winnowing_fingerprint(spark, docs.__sfdir__).write.format(
            "noop"
        ).mode("overwrite").save()

    def t_knn_graph(docs):
        # sim_knn_graph_bucketed's shape over a growing synthetic vector
        # set (embeddings don't blow up with documents): LSH bucket
        # self-join + per-node top-k through WindowGroupLimit. Pair
        # population ~N^2/2^planes — the quadratic-within-bucket term the
        # plane count controls; watch it against the linear stages.
        from pyspark.sql import Window as W

        from supabase_etl_spark.operators.dedup import dot_double
        from supabase_etl_spark.queries.llm_similarity import (
            DIM,
            KNN_GRAPH_K,
            lsh_bucket,
        )

        mult = docs.__mult__
        base = spark.range(500 * mult).select(F.col("id").alias("vec_id"))
        vec = base.select(
            "vec_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda d: (
                    (F.lit(1103515245) * (F.col("vec_id") * DIM + d)
                     + F.lit(12345)) % F.lit(2147483648)
                ).cast("double") / F.lit(2147483648.0) - F.lit(0.5),
            ).alias("embedding"),
        )
        hashed = pin(vec.select(
            "vec_id",
            "embedding",
            F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("nrm"),
            lsh_bucket(F.col("embedding")),
        ), eager=True)
        a = hashed.select("bucket", F.col("vec_id").alias("node"),
                          F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
        b = hashed.select("bucket", F.col("vec_id").alias("neighbor"),
                          F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
        cos = dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        w = W.partitionBy("node").orderBy(F.col("cos_sim").desc(),
                                          F.col("neighbor").asc())
        (
            a.join(b, "bucket")
            .filter(F.col("node") != F.col("neighbor"))
            .select("node", "neighbor", cos.alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= KNN_GRAPH_K)
            .write.format("noop").mode("overwrite").save()
        )

    def t_audio_e2e(docs):
        # multimodal_audio_dedup_pipeline_e2e's shape over a growing clip
        # set: generate + resample + canonical decode (one pass,
        # checkpointed), signature bucket join, exact verify, CC
        from supabase_etl_spark.operators import multimodal as M
        from supabase_etl_spark.operators.cc import connected_components
        from supabase_etl_spark.queries.llm_multimodal import (
            AUDIO_BLOCKS,
            CANON_RATE,
            COARSE_DIV,
        )

        mult = docs.__mult__
        ids = spark.range(40 * mult).select(F.col("id").alias("doc_id"))
        orig = M.generate_audio(ids)
        res = M.resample_audio(orig, factor=2).select(
            F.concat(F.col("uri"), F.lit(".r2")).alias("uri"), "content"
        )
        corpus = orig.select("uri", "content").unionByName(res)
        feats = pin(M.audio_canonical_features(
            corpus, CANON_RATE, AUDIO_BLOCKS
        ), eager=True)
        doc_id = F.regexp_extract("uri", r"doc://(\d+)", 1).cast("bigint")
        variant = F.when(F.col("uri").endswith(".r2"), 1).otherwise(0)
        coarse = [
            (F.element_at("b", i + 1) / COARSE_DIV).cast("long")
            for i in range(AUDIO_BLOCKS)
        ]
        nodes = feats.select(
            (F.lit(2) * doc_id + variant).alias("node"),
            "m", "peak", "sum_abs", "b",
            F.concat_ws(":", F.col("m"), *coarse).alias("sig"),
        )
        a = nodes.select("sig", F.col("node").alias("na"),
                         F.col("sum_abs").alias("sa"), F.col("b").alias("ba"))
        bb = nodes.select("sig", F.col("node").alias("nb"),
                          F.col("sum_abs").alias("sb"), F.col("b").alias("bb"))
        verified = (
            a.join(bb, "sig")
            .filter((F.col("na") < F.col("nb")) & (F.col("sa") == F.col("sb"))
                    & (F.col("ba") == F.col("bb")))
            .select(F.col("na").alias("src"), F.col("nb").alias("dst"))
        )
        connected_components(nodes.select("node"), verified).write.format(
            "noop"
        ).mode("overwrite").save()

    def t_video_e2e(docs):
        # multimodal_video_dedup_pipeline_e2e's shape over a growing
        # clip set: generate + decimate + canonical decode (one pass,
        # checkpointed), per-frame signature bucket join, exact
        # dual-sequence verify, CC
        from supabase_etl_spark.operators import multimodal as M
        from supabase_etl_spark.operators.cc import connected_components
        from supabase_etl_spark.queries.llm_multimodal import (
            VCANON_FPS,
            VCOARSE_DIV,
        )

        mult = docs.__mult__
        ids = spark.range(30 * mult).select(F.col("id").alias("doc_id"))
        orig = M.generate_videos(ids)
        dec = M.decimate_videos(orig).select(
            F.concat(F.col("uri"), F.lit(".d2")).alias("uri"), "content"
        )
        corpus = orig.select("uri", "content").unionByName(dec)
        feats = pin(M.video_canonical_features(corpus, VCANON_FPS), eager=True)
        doc_id = F.regexp_extract("uri", r"doc://(\d+)", 1).cast("bigint")
        variant = F.when(F.col("uri").endswith(".d2"), 1).otherwise(0)
        coarse = F.array_join(
            F.transform(
                F.col("luma"),
                lambda x: (x / VCOARSE_DIV).cast("long").cast("string"),
            ),
            ":",
        )
        nodes = feats.select(
            (F.lit(2) * doc_id + variant).alias("node"),
            "luma", "chroma",
            F.concat_ws("|", F.col("m"), coarse).alias("sig"),
        )
        a = nodes.select("sig", F.col("node").alias("na"),
                         F.col("luma").alias("la"), F.col("chroma").alias("ca"))
        bb = nodes.select("sig", F.col("node").alias("nb"),
                          F.col("luma").alias("lb"), F.col("chroma").alias("cb"))
        verified = (
            a.join(bb, "sig")
            .filter((F.col("na") < F.col("nb")) & (F.col("la") == F.col("lb"))
                    & (F.col("ca") == F.col("cb")))
            .select(F.col("na").alias("src"), F.col("nb").alias("dst"))
        )
        connected_components(nodes.select("node"), verified).write.format(
            "noop"
        ).mode("overwrite").save()

    ops = {
        "dedup_exact (sha2 groupBy)": t_exact,
        "winnowing fingerprints": t_winnowing,
        "knn graph bucketed": t_knn_graph,
        "audio dedup pipeline e2e": t_audio_e2e,
        "video dedup pipeline e2e": t_video_e2e,
        "length-bucketed batching ranks": t_length_batching,
        "isolation forest 4x4": t_iforest,
        "edit-distance verify blocked": t_edv,
        "ssim over phash candidates": t_ssim_phash,
        "dedup pipeline e2e (LSH->lev->CC)": t_e2e_pipeline,
        "corpus prepare e2e (gate->bloom->ledger)": t_corpus_prepare,
        "exact-substring dedup (windows->coverage)": t_exact_substring,
        "cdc chunk dedup (boundaries->chunk hash)": t_cdc_chunks,
        "multimodal incremental ingest (decode->gate->dedup->manifest)": t_mm_incremental_ingest,
        "audio incremental ingest (decode->gate->dedup->manifest)": t_aud_incremental_ingest,
        "trajectory topk band-blocked": t_trajectory,
        "identity stitching CC": t_stitching,
        "naive-bayes train+score": t_naive_bayes,
        "rake phrase windows": t_rake,
        "bleu pair gram clip": t_bleu,
        "minhash band candidates": t_minhash,
        "jaccard prefix pairs": t_prefix,
        "token stats (scan-bound)": t_tokens,
        "sorted-neighborhood pairs": t_snm,
        "bloom build+probe": t_bloom,
        "dsir score+topk": t_dsir,
        "kcore peel round": t_kcore,
        "ktruss triangle round": t_ktruss,
        "ER pairs, coarse blocking (nation)": t_er_coarse,
        "ER pairs, fine blocking (nation x bal-band)": t_er_fine,
        "containment inverted-index pairs": t_containment,
        "maxsim query-batch x corpus grid": t_maxsim,
        "kmeans lloyd 3 rounds": t_kmeans_lloyd,
        "dbscan grid probe + CC": t_dbscan_grid,
        "gemm blocked topk": t_gemm_topk,
        "epoch-shuffle distributed rank": t_epoch_shuffle,
        "source-KL vocab aggs": t_source_kl,
    }
    if len(sys.argv) > 1:
        ops = {k: v for k, v in ops.items() if any(a in k for a in sys.argv[1:])}

    rows = []
    for name, fn in ops.items():
        walls = []
        for mult in BLOWUPS:
            docs = blowup_docs(spark, mult)
            docs.__mult__ = mult  # for ops that build their own corpus
            docs.__sfdir__ = _blown_sf_dir(spark, mult)  # real-fn ops
            fn(docs)  # warm codegen at this plan shape
            t0 = time.time()
            fn(docs)
            walls.append(time.time() - t0)
            spark.catalog.clearCache()
        ratio = walls[-1] / walls[0] if walls[0] > 0 else float("inf")
        rows.append((name, walls, ratio))
        print(
            f"# {name}: "
            + " ".join(f"{m}x={w:.2f}s" for m, w in zip(BLOWUPS, walls))
            + f"  ({BLOWUPS[-1]}x/{BLOWUPS[0]}x = {ratio:.1f})",
            flush=True,
        )

    hi, lo = BLOWUPS[-1], BLOWUPS[0]
    print(
        "\n| operator | " + " | ".join(f"{m}x" for m in BLOWUPS)
        + f" | {hi}x/{lo}x |"
    )
    print("|---" * (len(BLOWUPS) + 2) + "|")
    for name, walls, ratio in rows:
        cells = " | ".join(f"{w:.2f}s" for w in walls)
        print(f"| {name} | {cells} | {ratio:.1f}x |")

    if len(sys.argv) <= 1:
        semantic_skew_curve(spark)


def skewed_embeddings(spark, mult: int):
    """Blown-up embeddings corpus where EVERY vector lands in one
    cluster (the SemDeDup worst case the oversized-cluster split
    exists for): unit-ish 2-D vectors scattered over a 90° arc by a
    golden-ratio low-discrepancy angle, so sub-centroid seeds (the
    lowest ids) spread evenly and the split produces balanced buckets."""
    from supabase_etl_spark.io.readers import load_table

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id")
    copies = [
        e.select((F.col("vec_id") + i * ID_STRIDE).alias("vec_id")) for i in range(mult)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    # deterministic low-discrepancy angle in [0, pi/2): frac(id * phi)
    u = F.col("vec_id").cast("double") * 0.6180339887498949
    theta = (u - F.floor(u)) * (math.pi / 2)
    return out.select(
        "vec_id",
        F.array(F.cos(theta), F.sin(theta)).alias("embedding"),
        F.lit(0).alias("cluster_id"),
        F.lit(1.0).alias("nrm"),
    )


def semantic_skew_curve(spark) -> None:
    """Pair-stage wall time on a single skewed cluster, split OFF vs ON.

    OFF (cap=inf) is the quadratic plan r3 flagged: one bucket, n²/2
    cosine evaluations. ON (cap=1000) re-assigns to ceil(n/1000)
    geometric sub-centroids first, bounding every bucket — growth
    tracks n * cap instead of n². The 10x/1x ratio is the evidence:
    ~100x for OFF, near-linear-in-n for ON."""
    from supabase_etl_spark.queries.llm_dedup import (
        _split_oversized_clusters,
        semantic_pair_stage,
    )

    print("\n## semantic pair stage under single-cluster skew (split OFF vs ON)")
    results = {}
    for label, cap in (("split OFF (quadratic)", None), ("split ON (cap=1000)", 1000)):
        walls = []
        for mult in BLOWUPS:
            vecs = skewed_embeddings(spark, mult)
            if cap is None:
                normed = vecs.withColumn("sub_id", F.lit(0))
            else:
                normed = _split_oversized_clusters(vecs, cap)
            par = min(32, spark.sparkContext.defaultParallelism)

            def run():
                semantic_pair_stage(normed, par, 0.9999).write.format("noop").mode(
                    "overwrite"
                ).save()

            run()  # warm codegen
            t0 = time.time()
            run()
            walls.append(time.time() - t0)
            spark.catalog.clearCache()
        ratio = walls[-1] / walls[0] if walls[0] > 0 else float("inf")
        results[label] = (walls, ratio)
        print(
            f"# {label}: "
            + " ".join(f"{m}x={w:.2f}s" for m, w in zip(BLOWUPS, walls))
            + f"  (10x/1x = {ratio:.1f})",
            flush=True,
        )
    print("\n| pair stage | 1x | 3x | 10x | 10x/1x |")
    print("|---|---|---|---|---|")
    for label, (walls, ratio) in results.items():
        cells = " | ".join(f"{w:.2f}s" for w in walls)
        print(f"| {label} | {cells} | {ratio:.1f}x |")


if __name__ == "__main__":
    main()
