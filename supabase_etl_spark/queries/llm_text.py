"""Text-analysis queries over ``documents`` (SURVEY.md §2.2 "LLM ops").

Language-ID, quality scoring, token counting, and fingerprinting as
oracle-checked queries. All per-row logic is pure column expressions
(operators/text.py) — scan-speed at 100 TB; only the final rollups
shuffle, and those reduce to a handful of groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import window as W

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators import text as T
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens,
           len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS n_bpe_tokens,
           length(text) AS n_chars_measured,
           len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))) AS n_distinct_tokens
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
    bench=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts, char length, vocabulary size
    per document. Pure narrow expressions — no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    ).orderBy("doc_id")


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, lang,
           {T.sql_quality_score()} AS quality,
           ({T.sql_quality_score()}) >= 0.5 AS keep
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-statistics quality score + keep/drop gate — the standard
    pre-training corpus filter (length/punct/stopword signals)."""
    d = load_table(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        q.alias("quality"),
        (q >= 0.5).alias("keep"),
    ).orderBy("doc_id")


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {T.sql_lang_id()} AS predicted_lang,
           ({T.sql_lang_id()}) = lang AS match
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification vs the labeled column."""
    d = load_table(spark, sf_dir, "documents")
    pred = T.lang_id(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("match"),
    ).orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {T.sql_fingerprint()} AS fp,
           md5(text) AS full_hash
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-hash-of-shingles fingerprint + full-text md5.
    Near-identical documents share fp with high probability; identical
    documents share full_hash exactly."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        F.md5("text").alias("full_hash"),
    ).orderBy("doc_id")


@query(
    "text_corpus_stats",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(CAST(length(text) AS DECIMAL(28,6))) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
                AS DECIMAL(28,6))) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST({T.sql_quality_score()} AS DECIMAL(28,6))) AS DOUBLE)
               / count(*) AS avg_quality
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text"),
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup (doc/char/token totals, mean quality).
    Partial aggregation map-side; ~5 groups reach the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    dec = "decimal(28,6)"
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text").cast(dec)).cast("bigint").alias("total_chars"),
            F.sum(T.token_count(F.col("text")).cast(dec)).cast("bigint").alias("total_tokens"),
            (
                F.sum(T.quality_score(F.col("text")).cast(dec)).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@query(
    "text_tfidf_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(list_filter(
            regexp_split_to_array(text, '\\s+'), t -> t <> ''))) AS term
        FROM documents
    ),
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    stats AS (SELECT term, count(*) AS df FROM toks GROUP BY term)
    SELECT term, df,
           round(ln((n + 1.0) / (df + 1.0)) + 1.0, 12) AS idf
    FROM stats CROSS JOIN n_docs
    ORDER BY idf DESC, term ASC
    LIMIT 25
    """,
    tags=("llm", "text"),
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed IDF per term (the CountVectorizer→IDF pipeline in plain
    SQL: idf = ln((N+1)/(df+1)) + 1), rarest 25 terms. ln differs by
    1 ulp between JVM Math.log and DuckDB's libm on some inputs
    (observed at sf0.1), so idf is rounded to 12 decimals on both
    sides.

    Shape: N is computed IN-PLAN as a 1-row broadcast aggregate
    cross-joined onto the vocabulary-sized df table — exactly the
    oracle's CROSS JOIN n_docs — so the corpus is scanned and
    tokenized once and nothing blocks plan construction. (A
    driver-side distinct().count() here would scan the corpus twice
    at 100 TB.) doc_id is a column of `documents`, so N comes from
    the raw column, not the exploded token stream — countDistinct on
    the skinny source column, no second explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("term")
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("n"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            F.round(F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0, 12).alias(
                "idf"
            ),
        )
        .orderBy(F.col("idf").desc(), F.col("term").asc())
        .limit(25)
    )


@query(
    "text_term_frequencies",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS term
        FROM documents
    ),
    stats AS (
        SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM toks GROUP BY term
    )
    SELECT term, tf, df FROM stats
    ORDER BY df DESC, tf DESC, term ASC
    LIMIT 20
    """,
    tags=("llm", "text"),
)
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies, top-20 by df (CountVectorizer-
    style stats in pure SQL). explode → partial-agg; vocabulary-sized
    shuffle, then a global top-k (TakeOrdered) — no full sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), F.col("tf").desc(), F.col("term").asc())
        .limit(20)
    )


_TOKS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


@query(
    "text_repetition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    arr AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               {T.sql_ngrams_all('toks', 2)} AS g2,
               {T.sql_ngrams_all('toks', 3)} AS g3
        FROM toks
    ),
    tc AS (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS t FROM toks)
        GROUP BY 1, 2
    ),
    top AS (
        SELECT doc_id, max(c) AS max_c, sum(c) AS n FROM tc GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_id, a.n_tokens AS n_tokens,
           CAST(top.max_c AS DOUBLE) / top.n AS top_token_frac,
           1.0 - CAST(len(list_distinct(a.g2)) AS DOUBLE) / len(a.g2) AS dup_bigram_frac,
           1.0 - CAST(len(list_distinct(a.g3)) AS DOUBLE) / len(a.g3) AS dup_trigram_frac
    FROM arr a JOIN top ON a.doc_id = top.doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/C4 repetition
    family): most-frequent-token mass and duplicate bi-/tri-gram
    fractions. High values mark boilerplate and degenerate generations
    — a standard pre-training drop rule.

    Shape: n-gram fractions are array-local (zero shuffle); the top
    token needs exact per-(doc, token) counts → explode + two partial
    aggs partitioned by doc_id, then a doc_id equi-join — all linear."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    g2, g3 = T.ngrams_all(F.col("toks"), 2), T.ngrams_all(F.col("toks"), 3)
    arr = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(g2)).cast("double") / F.size(g2)
        ).alias("dup_bigram_frac"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(g3)).cast("double") / F.size(g3)
        ).alias("dup_trigram_frac"),
    )
    tc = (
        d.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_token_frac")
    )
    return (
        arr.join(top, "doc_id")
        .select("doc_id", "n_tokens", "top_token_frac", "dup_bigram_frac", "dup_trigram_frac")
        .orderBy("doc_id")
    )


# Gopher-style document-filter thresholds (published rule family:
# Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1 —
# word-count window, mean word length window, symbol ratio, alphabetic
# word fraction, minimum distinct stopwords).
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
_SYMBOL_RE = r"#|\.\.\."
_STOP_SQL = ", ".join(f"'{w}'" for w in T.STOPWORDS_EN)


@query(
    "text_gopher_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents
    ),
    sig AS (
        SELECT doc_id, lang,
               len(toks) AS n_words,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / greatest(len(toks), 1) AS mean_word_len,
               CAST(len(regexp_extract_all(text, '{_SYMBOL_RE}')) AS DOUBLE)
                   / greatest(len(toks), 1) AS symbol_ratio,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / greatest(len(toks), 1) AS alpha_frac,
               len(list_distinct(list_filter(list_transform(toks, x -> lower(x)),
                                             x -> x IN ({_STOP_SQL})))) AS n_stopwords
        FROM t
    )
    SELECT doc_id, lang, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stopwords,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
           AND (mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
           AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
           AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
           AND n_stopwords >= {GOPHER_MIN_STOPWORDS} AS keep
    FROM sig
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based document filter: word-count window, mean
    word length window, symbol-to-word ratio, alphabetic-word fraction,
    distinct-stopword floor, and the conjunctive keep flag. Every
    signal is an array-local column expression — scan-speed at 100 TB,
    zero shuffle before the final ORDER BY."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", T.tokens(F.col("text")).alias("toks")
    )
    n = F.greatest(F.size("toks"), F.lit(1))
    mean_word_len = (
        F.aggregate(
            F.transform(F.col("toks"), lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n
    )
    symbol_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_SYMBOL_RE), F.lit(0))).cast("double")
        / n
    )
    alpha_frac = (
        F.size(F.filter(F.col("toks"), lambda x: x.rlike("[A-Za-z]"))).cast("double") / n
    )
    n_stopwords = F.size(
        F.array_distinct(
            F.filter(
                F.transform(F.col("toks"), lambda x: F.lower(x)),
                lambda x: x.isin(*T.STOPWORDS_EN),
            )
        )
    )
    sig = d.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stopwords.alias("n_stopwords"),
    )
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS)
    )
    return sig.withColumn("keep", keep).orderBy("doc_id")


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
    ),
    tf AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    total AS (SELECT sum(c) AS n FROM tf),
    scored AS (
        SELECT tok.doc_id,
               CAST(-ln(CAST(tf.c AS DOUBLE) / total.n) AS DECIMAL(38,18)) AS nll
        FROM tok JOIN tf ON tok.t = tf.t CROSS JOIN total
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS mean_nll
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram negative-log-likelihood per document — the cheap proxy
    for LM-perplexity filtering (CCNet-family): documents whose tokens
    are corpus-typical score low, gibberish scores high. Corpus term
    frequencies are one explode+agg; the per-token -ln(p) terms are
    cast to exact decimal before summing so the mean is
    order-independent and replayable (ln itself is IEEE-identical on
    both engines' libm for these inputs; the decimal sum removes the
    accumulation-order variable).

    Shape: the term-frequency table is VOCABULARY-sized (unigram vocab
    — millions of rows at 100 TB, megabytes serialized), so scoring
    broadcasts it instead of shuffling the corpus-sized token stream
    on the term key: one corpus explode, zero corpus shuffles before
    the final doc_id agg."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    tok = d.select("doc_id", F.explode("toks").alias("t"))
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tf = pin(tf)  # total + scoring join (scan-leaf lint)
    total = tf.agg(F.sum("c").alias("n"))
    nll = (-F.log(F.col("c").cast("double") / F.col("n"))).cast("decimal(38,18)")
    return (
        tok.join(F.broadcast(tf), "t")
        .crossJoin(F.broadcast(total))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias("mean_nll"),
        )
    )


# shared bigram-NLL oracle CTEs (text_bigram_logprob, text_ppl_buckets)
_BIGRAM_NLL_SQL = f"""base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM base WHERE len(toks) >= 2
    ),
    c2 AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
    c1 AS (SELECT split_part(b, ' ', 1) AS w1, count(*) AS cw FROM bg GROUP BY 1),
    scored AS (
        SELECT bg.doc_id,
               CAST(-ln(CAST(c2.cb AS DOUBLE) / c1.cw) AS DECIMAL(38,18)) AS nll
        FROM bg
        JOIN c2 ON bg.b = c2.b
        JOIN c1 ON split_part(bg.b, ' ', 1) = c1.w1
    ),
    nll AS (
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS mean_nll
        FROM scored
        GROUP BY doc_id
    )"""


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_NLL_SQL}
    SELECT doc_id, n_bigrams, mean_nll
    FROM nll
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
    bench=True,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional NLL per document — one order up from
    text_unigram_logprob, the better perplexity proxy for LM-quality
    filtering (CCNet trains a 5-gram KenLM; the estimation machinery is
    identical at every order: count n-grams, count contexts, divide).
    Bigrams are built row-locally (no shuffle), the two count tables
    are plain aggs, and scoring BROADCASTS both count tables onto the
    corpus-sized bigram stream — zero corpus shuffles before the final
    doc_id agg. The join keys are NUMERIC: each bigram occurrence is
    reduced once to ``k2 = xxhash64(w1, w2)`` and ``k1 = xxhash64(w1)``
    (8-byte longs), so the broadcast-hash probes hash a fixed-width
    integer instead of re-hashing corpus-sized concatenated strings,
    and the context key is carried as a column instead of being
    re-parsed from the bigram string (the prior ``concat_ws`` +
    ``substring_index`` shape was the one compute-bound margin in the
    r4 bench). c1 derives from c2 (Σ cb over k1) — vocabulary-sized,
    never a second corpus scan. For a corpus whose bigram vocabulary
    outgrows executor memory, drop the c2 hint and let AQE pick the
    join (64-bit hash keys are uniform, so the fallback shuffle has no
    skew problem). Per-bigram -ln(p) goes through decimal so the mean
    is accumulation-order independent. 64-bit key collisions are
    negligible at any realistic vocabulary (~n²/2⁶⁵) and would only
    merge two counts, not drop rows."""
    return _bigram_nll_frame(spark, sf_dir).orderBy("doc_id")


def _bigram_nll_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, mean_nll) — the bigram scoring plan shared
    by text_bigram_logprob and text_ppl_buckets."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    # adjacent pairs via two shifted slices zipped together — measured
    # ~15% faster than transform(sequence)+element_at at sf0.1 (the
    # sliced arrays copy contiguously; indexed element_at per lambda
    # step does not). Hashing stays OUTSIDE the lambda: post-explode
    # expressions are whole-stage-codegen'd, while expressions inside
    # a higher-order-function lambda are interpreted per element (the
    # hash-in-lambda variant measured ~35% slower).
    n1 = F.size("toks") - 1
    bigram_arr = F.zip_with(
        F.slice("toks", 1, n1),
        F.slice(F.col("toks"), 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        d.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigram_arr).alias("b"))
        .select(
            "doc_id",
            F.xxhash64("b.w1", "b.w2").alias("k2"),
            F.xxhash64("b.w1").alias("k1"),
        )
    )
    # k2 functionally determines k1, so grouping by both adds no groups;
    # carrying k1 here is what lets the context count derive in-place.
    c2 = bg.groupBy("k2", "k1").agg(F.count(F.lit(1)).alias("cb"))
    # context counts (Σ cb over k1) come from a WINDOW over the
    # vocabulary-sized c2 — not a second aggregation whose broadcast
    # would re-run the whole corpus lineage. One count table, one
    # broadcast, one probe join; the corpus is scanned exactly twice
    # (c2 build + scoring probe) instead of three times.
    cts = c2.withColumn(
        "cw", F.sum("cb").over(W.Window.partitionBy("k1"))
    ).select("k2", "cb", "cw")
    nll = (-F.log(F.col("cb").cast("double") / F.col("cw"))).cast("decimal(38,18)")
    return (
        bg.select("doc_id", "k2")
        .join(F.broadcast(cts), "k2")
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias("mean_nll"),
        )
    )


_SQL_TOKENS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

# Per-language linear "quality classifier" — stand-in for a fastText /
# logistic model artifact. Weights over (chars, tokens, stopword_ratio);
# per-language intercepts. Broadcast to executors like a real model file.
_CLF_WEIGHTS = {
    "en": (0.10, -0.004, 0.012, 2.40),
    "de": (-0.30, -0.003, 0.010, 2.10),
    "fr": (-0.20, -0.003, 0.011, 2.20),
    "es": (-0.25, -0.002, 0.009, 2.00),
    "__default__": (-1.00, -0.001, 0.005, 1.00),
}


def _sql_clf_case(feature_exprs: tuple[str, str, str]) -> str:
    f1, f2, f3 = feature_exprs
    arms = "\n           ".join(
        f"WHEN lang = '{lang}' THEN round({b} + {w1} * {f1} + {w2} * {f2} + {w3} * {f3}, 6)"
        for lang, (b, w1, w2, w3) in _CLF_WEIGHTS.items()
        if lang != "__default__"
    )
    b, w1, w2, w3 = _CLF_WEIGHTS["__default__"]
    return (
        f"CASE {arms}\n           "
        f"ELSE round({b} + {w1} * {f1} + {w2} * {f2} + {w3} * {f3}, 6) END"
    )


@query(
    "text_clf_inference_broadcast",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(length(text) AS DOUBLE) AS f_chars,
               CAST(len({_SQL_TOKENS}) AS DOUBLE) AS f_tokens,
               CAST(len(list_filter({_SQL_TOKENS},
                        t -> t IN {T._sql_tuple(T.STOPWORDS_EN)}))
                    AS DOUBLE)
                   / greatest(1, len({_SQL_TOKENS})) AS f_stop
        FROM documents
    )
    SELECT doc_id, lang,
           {_sql_clf_case(("f_chars", "f_tokens", "f_stop"))} AS score
    FROM feats
    ORDER BY doc_id
    """,
    tags=("llm", "text", "udf", "inference"),
)
def text_clf_inference_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-inference plumbing at corpus scale: a classifier artifact
    (here a per-language linear model; in production a fastText /
    sklearn pickle) is shipped ONCE per executor via a broadcast
    variable, and an Arrow-batched pandas UDF scores whole record
    batches against it with vectorized numpy — the canonical "quality
    classifier over 100 TB" shape (features computed JVM-side; only the
    model application crosses the Python boundary, per-batch not
    per-row; no driver loop, no per-row pickling of the model).

    Determinism: score = b + w1·f1 + w2·f2 + w3·f3 evaluated
    left-to-right in both engines — identical IEEE operation order, so
    the rounded doubles hash-match."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    feats = d.select(
        "doc_id",
        "lang",
        F.length("text").cast("double").alias("f_chars"),
        F.size(toks).cast("double").alias("f_tokens"),
        (
            T.stopword_count(F.col("text")).cast("double")
            / F.greatest(F.lit(1), F.size(toks))
        ).alias("f_stop"),
    )

    model_bc = spark.sparkContext.broadcast(_CLF_WEIGHTS)

    @pandas_udf("double")
    def score(lang, f1, f2, f3):
        m = model_bc.value
        default = m["__default__"]
        rows = pd.DataFrame(
            [m.get(v, default) for v in lang],
            columns=["b", "w1", "w2", "w3"],
            index=lang.index,
        )
        raw = rows["b"] + rows["w1"] * f1 + rows["w2"] * f2 + rows["w3"] * f3
        return raw.round(6)

    return feats.select(
        "doc_id",
        "lang",
        score(F.col("lang"), F.col("f_chars"), F.col("f_tokens"), F.col("f_stop")).alias(
            "score"
        ),
    ).orderBy("doc_id")


@query(
    "text_sentence_split",
    oracle=f"""
    WITH sents AS (
        SELECT doc_id,
               unnest(list_filter(
                   list_transform(regexp_split_to_array(text, '[.!?]+'),
                                  s -> trim(s)),
                   s -> s <> '')) AS sentence,
               unnest(range(1, len(list_filter(
                   list_transform(regexp_split_to_array(text, '[.!?]+'),
                                  s -> trim(s)),
                   s -> s <> '')) + 1)) AS sent_idx
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, sent_idx, sentence,
           len(list_filter(regexp_split_to_array(sentence, '\\s+'),
               t -> t <> '')) AS n_tokens
    FROM sents
    ORDER BY doc_id, sent_idx
    """,
    tags=("llm", "text", "chunking"),
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (terminator regex split, trimmed, empties
    dropped) with per-sentence token counts — the unit step before
    sentence-boundary-respecting sequence packing (pack_sequences cuts
    at token positions; a production packer prefers sentence edges).
    Row-local split + one posexplode: scan-shaped at any scale."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    ex = d.select(
        "doc_id", F.posexplode(sents).alias("idx0", "sentence")
    ).select("doc_id", (F.col("idx0") + 1).alias("sent_idx"), "sentence")
    from supabase_etl_spark.operators.text import tokens as _toks

    return ex.select(
        "doc_id",
        "sent_idx",
        "sentence",
        F.size(_toks(F.col("sentence"))).alias("n_tokens"),
    ).orderBy("doc_id", "sent_idx")


VOCAB_K = 256  # vocabulary size for the id-mapping demo
_VOCAB_TOK = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


@query(
    "text_vocab_ids",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_VOCAB_TOK} AS t FROM documents
    ),
    flat AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(range(1, len(t) + 1)) AS pos
        FROM toks
    ),
    freq AS (
        SELECT tok, count(*) AS cnt FROM flat GROUP BY tok
    ),
    vocab AS (
        SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS id
        FROM freq
        ORDER BY cnt DESC, tok
        LIMIT {VOCAB_K}
    )
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           array_to_string(list(CAST(coalesce(v.id, 0) AS VARCHAR) ORDER BY f.pos), ' ') AS ids
    FROM flat f LEFT JOIN vocab v ON f.tok = v.tok
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    tags=("llm", "text", "vocab"),
)
def text_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + token→id mapping — the tokenizer-fitting step
    of a training pipeline: rank the corpus's top-{VOCAB_K} tokens by
    frequency (ties broken lexicographically, ids dense from 1), then
    encode every document as its ordered id sequence with OOV→0. The
    sequence is emitted as a space-joined STRING, not an array — the
    driver-facing contract is scalar-only columns (pandas canon cannot
    sort/hash list cells), enforced registry-wide by
    tests/test_output_type_lint.py.

    Scale shape: token frequencies are one map-side-combinable agg; the
    top-K cut is a TakeOrdered (K rows to the driver-side limit, never
    a global sort of the vocabulary); the id assignment window runs
    over exactly K rows. Encoding then BROADCAST-joins the K-row vocab
    into the positional token stream — the corpus is never shuffled for
    the lookup; the only corpus-keyed exchange is the final per-doc
    reassembly, grouped on doc_id with the positions struct-sorted
    in-place."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("t"))
    flat = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), "tok")
    freq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    topk = freq.orderBy(F.desc("cnt"), "tok").limit(VOCAB_K)
    vocab = topk.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), "tok"))
        .cast("bigint")
        .alias("id"),
    )
    mapped = flat.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0).cast("bigint")).alias("id")
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
                " ",
            ).alias("ids"),
        )
        .orderBy("doc_id")
    )


BPE_TOP_PAIRS = 20  # merge candidates returned per training step


@query(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH vocab AS (
        SELECT g AS tok, count(*) AS w
        FROM (SELECT unnest({_TOKS_SQL}) AS g FROM documents)
        GROUP BY g
    ),
    pairs AS (
        SELECT substring(tok, CAST(i AS INT), 1) AS a,
               substring(tok, CAST(i AS INT) + 1, 1) AS b,
               w
        FROM vocab, unnest(range(1, length(tok))) AS t(i)
        WHERE length(tok) >= 2
    ),
    counted AS (
        SELECT a, b, a || b AS merged, CAST(SUM(w) AS BIGINT) AS pair_count
        FROM pairs GROUP BY a, b
    ),
    ranked AS (
        SELECT a, b, merged, pair_count,
               row_number() OVER (ORDER BY pair_count DESC, a, b) AS rank
        FROM counted
    )
    SELECT rank, a, b, merged, pair_count
    FROM ranked WHERE rank <= {BPE_TOP_PAIRS}
    ORDER BY rank
    """,
    tags=("llm", "text", "tokenizer"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training primitive (Sennrich et al. 2016 /
    GPT-2's trainer): count adjacent symbol pairs across the corpus,
    weighted by word frequency — the top pair is the next merge rule.
    This registers the counting step at the character level (round 0
    of training, where every symbol is one char; after a merge the
    identical query runs over the rewritten symbol sequences).

    The load-bearing scale property, same as every real BPE trainer
    (HuggingFace tokenizers does exactly this): pair counting runs on
    the WORD-FREQUENCY table, not the corpus — one corpus-sized
    token agg (map-side combined, shuffle keyed on tokens) reduces
    100 TB of text to a vocabulary-sized table, and everything after —
    pair explode, pair agg, top-k — is vocabulary-sized work. The
    per-word pair explode is a higher-order sequence over character
    positions (JVM-side, no UDF); top-k is TakeOrdered. Counts are
    integers: exact, order-free, no float discipline needed."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("tok") - 1),
            lambda i: F.struct(
                F.col("tok").substr(i, F.lit(1)).alias("a"),
                F.col("tok").substr(i + 1, F.lit(1)).alias("b"),
            ),
        )
    )
    counted = (
        vocab.filter(F.length("tok") >= 2)
        .select(pair.alias("p"), "w")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("w").alias("pair_count"))
        .withColumn("merged", F.concat("a", "b"))
    )
    top = counted.orderBy(F.desc("pair_count"), "a", "b").limit(BPE_TOP_PAIRS)
    w = W.Window.orderBy(F.desc("pair_count"), "a", "b")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "a", "b", "merged", "pair_count")
        .orderBy("rank")
    )


@query(
    "text_ppl_buckets",
    oracle=f"""
    WITH {_BIGRAM_NLL_SQL},
    th AS (
        SELECT round(CAST(quantile_cont(mean_nll, CAST(1.0/3 AS DOUBLE))
                     AS DOUBLE), 6) AS t1,
               round(CAST(quantile_cont(mean_nll, CAST(2.0/3 AS DOUBLE))
                     AS DOUBLE), 6) AS t2
        FROM nll
    )
    SELECT doc_id, mean_nll,
           CASE WHEN mean_nll <= t1 THEN 'head'
                WHEN mean_nll <= t2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM nll CROSS JOIN th
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): bucket the
    corpus by language-model perplexity terciles — head (lowest NLL,
    Wikipedia-like) trains first-class, middle is kept, tail is the
    usual drop candidate. The LM score is the engine's own bigram NLL
    (shared plan builder with text_bigram_logprob); thresholds are the
    exact corpus 1/3 and 2/3 quantiles, computed as a 1-row agg that
    BROADCASTS back over the scored corpus — one corpus scoring pass,
    one tiny threshold frame, one stateless comparison per doc.

    Scale note: exact ``percentile`` concentrates the value vector in
    one aggregation buffer — fine to ~10⁸ docs, and the oracle needs
    its exactness; the 100 TB swap-in is ``approx_percentile`` (or the
    registry's mergeable t-digest rollup) with identical plan shape.
    Both the per-doc score and the thresholds are rounded to 6dp
    BEFORE the boundary comparison, so no engine can flip a bucket on
    a 1-ulp divergence."""
    nll = _bigram_nll_frame(spark, sf_dir)
    nll = pin(nll)  # thresholds + bucketing (scan-leaf lint)
    th = nll.agg(
        F.round(F.expr("percentile(mean_nll, CAST(1.0/3 AS DOUBLE))"), 6).alias("t1"),
        F.round(F.expr("percentile(mean_nll, CAST(2.0/3 AS DOUBLE))"), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("mean_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("mean_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        nll.crossJoin(F.broadcast(th))
        .select("doc_id", "mean_nll", bucket.alias("ppl_bucket"))
        .orderBy("doc_id")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "window")  # the standing query
BM25_TOP_K = 25


# shared BM25 oracle CTE chain (text_bm25_search, text_hybrid_rrf)
_BM25_RANKED_SQL = f"""toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(dl AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks
        WHERE term IN ('spark', 'join', 'window')
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               CAST(
                   ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * ({BM25_K1} + 1))
                   / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                      + {BM25_B} * dl.dl / stats.avgdl))
                   AS DECIMAL(38,18)) AS s
        FROM tf
        JOIN dl USING (doc_id)
        JOIN df USING (term)
        CROSS JOIN stats
    ),
    bm25_ranked AS (
        SELECT doc_id,
               round(CAST(SUM(s) AS DOUBLE), 6) AS bm25,
               CAST(count(*) AS BIGINT) AS n_terms_hit,
               row_number() OVER (
                   ORDER BY round(CAST(SUM(s) AS DOUBLE), 6) DESC, doc_id
               ) AS rank
        FROM scored GROUP BY doc_id
    )"""


@query(
    "text_bm25_search",
    oracle=f"""
    WITH {_BM25_RANKED_SQL}
    SELECT rank, doc_id, bm25, n_terms_hit
    FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
    ORDER BY rank
    """,
    tags=("llm", "text", "search"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson–Spärck Jones Okapi weighting,
    k1={BM25_K1} b={BM25_B}) for a standing term query — the lexical
    retrieval baseline every RAG/retrieval stack still runs beside its
    embedding ANN (both live in this registry; text_hybrid_rrf is the
    union + rerank). idf = ln(1 + (N − df + ½)/(df + ½)) with the
    document-length normalization that distinguishes BM25 from TF-IDF.

    Plan shape for a corpus-scale index: the posting lists (per-term
    tf) come from ONE filtered agg — the query-term filter lands
    BEFORE the shuffle, so the shuffle carries only matching postings,
    never the corpus vocabulary; doc lengths are a second corpus agg
    (shared scan); N/avgdl are a 1-row broadcast and df a
    query-terms-sized broadcast; the final rank is TakeOrdered. Score
    terms are single-expression IEEE doubles (identical both engines)
    summed through decimal; ranking compares the ROUNDED score so a
    1-ulp divergence cannot reorder."""
    return _bm25_ranked_frame(spark, sf_dir, BM25_TOP_K)


def _bm25_ranked_frame(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """(rank, doc_id, bm25, n_terms_hit) top-``depth`` — the BM25 plan
    shared by text_bm25_search and text_hybrid_rrf (the fusion list
    runs deeper than the display list)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    tok = d.select("doc_id", F.explode("toks").alias("term"))
    tok = pin(tok)  # doc lengths + tf (the index build)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = pin(tf)  # df + scoring (scan-leaf lint)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    s = (
        idf
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(38,18)")
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("s").cast("double"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(depth)
    w = W.Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "bm25", "n_terms_hit")
        .orderBy("rank")
    )


RRF_K = 60        # the standard reciprocal-rank-fusion damping constant
RRF_LIST_DEPTH = 50
RRF_TOP_K = 20


@query(
    "text_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_RANKED_SQL},
    lex AS (
        SELECT doc_id, rank AS lex_rank FROM bm25_ranked
        WHERE rank <= {RRF_LIST_DEPTH}
    ),
    q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    dense_scored AS (
        SELECT e.vec_id AS doc_id,
               (list_reduce(list_transform(range(1, len(CAST(e.embedding AS DOUBLE[])) + 1), i -> CAST(CAST(e.embedding AS DOUBLE[])[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (acc, x) -> acc + x) + 0.0) / (sqrt((list_reduce(list_transform(range(1, len(q.qe) + 1), i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (acc, x) -> acc + x) + 0.0)) * sqrt((list_reduce(list_transform(range(1, len(CAST(e.embedding AS DOUBLE[])) + 1), i -> CAST(CAST(e.embedding AS DOUBLE[])[i] AS DOUBLE) * CAST(CAST(e.embedding AS DOUBLE[])[i] AS DOUBLE)), (acc, x) -> acc + x) + 0.0))) AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id > 0
    ),
    dense AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY round(cos_sim, 9) DESC, doc_id
               ) AS dense_rank_
        FROM dense_scored
    ),
    dense_top AS (
        SELECT doc_id, dense_rank_ FROM dense WHERE dense_rank_ <= {RRF_LIST_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rank, d.dense_rank_,
               round(
                   COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0)
                   + COALESCE(1.0 / ({RRF_K} + d.dense_rank_), 0), 9) AS rrf
        FROM lex l FULL OUTER JOIN dense_top d ON l.doc_id = d.doc_id
    )
    SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank,
           doc_id, rrf,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank_ AS BIGINT) AS dense_rank
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_TOP_K}
    """,
    tags=("llm", "text", "search"),
)
def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the production RAG shape: the BM25 lexical
    list (shared plan with text_bm25_search) and an embedding-cosine
    dense list (query = vec 0 against the aligned embeddings table)
    fused by Reciprocal Rank Fusion, score = Σ 1/({RRF_K}+rank)
    (Cormack et al. 2009 — rank-only fusion needs no score
    calibration between the two retrievers, which is why RRF is the
    default in every hybrid search engine). Both lists are
    top-{RRF_LIST_DEPTH}; a doc found by only one list still fuses.

    Scale: each retriever keeps its own scale shape (BM25: filtered
    posting aggs; dense: broadcast query against the corpus scan);
    fusion itself is a full-outer join of two {RRF_LIST_DEPTH}-row
    lists — free. Ranks are integers, fusion terms single IEEE
    divisions, rounded before the final ordering."""
    from supabase_etl_spark.operators.dedup import dot_double

    # lexical list: same plan as text_bm25_search, at fusion depth
    lex = _bm25_ranked_frame(spark, sf_dir, RRF_LIST_DEPTH).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    cos = dot_double(F.col("emb"), F.col("qe")) / (
        F.sqrt(dot_double(F.col("qe"), F.col("qe")))
        * F.sqrt(dot_double(F.col("emb"), F.col("emb")))
    )
    wd = W.Window.orderBy(F.desc("cs"), F.asc("doc_id"))
    dense = (
        e.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), F.round(cos, 9).alias("cs"))
        .withColumn("dense_rank_", F.row_number().over(wd))
        .filter(F.col("dense_rank_") <= RRF_LIST_DEPTH)
        .select("doc_id", "dense_rank_")
    )
    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("dense_rank_")), F.lit(0.0)),
        9,
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            rrf.alias("rrf"),
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("dense_rank_").cast("bigint").alias("dense_rank"),
        )
    )
    top = fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOP_K)
    wr = W.Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(wr))
        .select("rank", "doc_id", "rrf", "lex_rank", "dense_rank")
        .orderBy("rank")
    )


@query(
    "text_source_kl_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_SQL}) AS t FROM documents
    ),
    st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY source, t),
    stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
    ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM ct),
    terms AS (
        SELECT st.source, st.c_st,
               CAST((CAST(st.c_st AS DOUBLE) / CAST(stot.n_s AS DOUBLE))
                    * ln((CAST(st.c_st AS DOUBLE) / CAST(stot.n_s AS DOUBLE))
                         / (CAST(ct.c_t AS DOUBLE) / CAST(tot.n AS DOUBLE)))
                    AS DECIMAL(38,18)) AS term
        FROM st JOIN stot USING (source) JOIN ct USING (t) CROSS JOIN tot
    )
    SELECT source,
           CAST(sum(c_st) AS BIGINT) AS n_tokens,
           count(*) AS vocab,
           round(CAST(sum(term) AS DOUBLE), 6) AS kl_divergence
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution —
    the data-mixture diagnostic behind DoReMi/DSIR-style reweighting
    (how far each source's token distribution sits from the blend it
    feeds). KL(p_source || p_corpus) summed over tokens present in the
    source (zero-count terms contribute exactly 0 in the limit, so the
    support restriction is exact, not an approximation).

    Scale: one corpus scan exploding tokens, then every aggregate and
    join is vocab-sized (c_st, c_t) or source-sized (n_s) — the corpus
    itself is never joined or re-shuffled. The 1-row corpus total is a
    broadcast cross join. Per-term doubles are IEEE-identical across
    engines; the sum runs through decimal(38,18) so Spark's parallel
    accumulation matches DuckDB's sequential order bit-for-bit.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(T.tokens(F.col("text"))).alias("t"))
    st = pin(tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).alias("c_st")
    ))  # margins + terms (scan-leaf lint)
    stot = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    ct = st.groupBy("t").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    tot = ct.agg(F.sum("c_t").cast("bigint").alias("n"))
    p = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_t").cast("double") / F.col("n").cast("double")
    term = (p * F.log(p / q)).cast("decimal(38,18)")
    terms = (
        st.join(F.broadcast(stot), "source")
        .join(ct, "t")
        .crossJoin(F.broadcast(tot))
        .select("source", "c_st", term.alias("term"))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.sum("c_st").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(F.sum("term").cast("double"), 6).alias("kl_divergence"),
        )
        .orderBy("source")
    )


BPE_TRAIN_ROUNDS = 8


def _bpe_merge(syms, lhs: str, rhs: str):
    """Apply one merge rule to an array<string> column: a JVM-side
    left-to-right `aggregate` fold, greedy and non-overlapping (the
    BPE contract: 'aaa' with rule a+a -> ['aa','a'])."""
    lc, rc, mc = F.lit(lhs), F.lit(rhs), F.lit(lhs + rhs)
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == lc) & (x == rc),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(mc)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _learn_bpe_merges(d: DataFrame) -> list[tuple[str, str, int]]:
    """The first BPE_TRAIN_ROUNDS merge rules (lhs, rhs, pair count)
    learned over ``d.text``, in rank order. One corpus scan builds the
    word-frequency table; every round then runs on that vocab-sized
    table, pinned per round so its lineage stays one round deep, and
    collects exactly one row (the argmax, ties broken lexically)."""
    words = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = pin(words.select("freq", F.split("w", "").alias("syms")), eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(BPE_TRAIN_ROUNDS):
        pairs = cur.select(
            "freq",
            F.expr(
                "transform(slice(syms, 1, size(syms) - 1),"
                " (x, i) -> struct(x AS l, syms[i + 1] AS r))"
            ).alias("prs"),
        ).select(F.explode("prs").alias("p"), "freq")
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()  # bounded: exactly one argmax row per round
        )
        if not best:
            break
        lhs, rhs = best[0]["l"], best[0]["r"]
        merges.append((lhs, rhs, int(best[0]["cnt"])))
        cur = pin(
            cur.select("freq", _bpe_merge(F.col("syms"), lhs, rhs).alias("syms")),
            eager=True,
        )
    return merges


@query("text_bpe_train_merges", tags=("llm", "text", "iterative"))
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: learn the first 8 merge
    rules over the corpus (the iterative half of tokenizer training —
    text_bpe_pair_counts is a single round of the same statistic).

    The classic scalable shape (what HF tokenizers / SentencePiece do):
    ONE corpus scan builds the word-frequency table, and the entire
    training loop then runs on that vocab-sized table — pair counting,
    argmax, and merge application never touch the corpus again. At
    100 TB the loop cost is O(rounds x vocab), not O(rounds x corpus).

    Per round: adjacent symbol pairs explode from the (pin-
    truncated, vocab-sized) symbol table weighted by word frequency; a
    hash agg picks the global best pair (ties broken lexically — fully
    deterministic); the merge applies as a JVM-side left-to-right
    `aggregate` fold (greedy non-overlapping, the BPE contract: 'aaa'
    with rule a+a -> ['aa','a']) — no Python UDF anywhere. The one
    collect() per round fetches exactly 1 row (the argmax), bounded by
    design.

    No SQL oracle: the merge sequence is inherently iterative (each
    round's input depends on the previous argmax) — rows-only in the
    gate, with a pure-Python golden-reference parity test at sf0.001
    (tests/test_text_ops.py)."""
    merges = _learn_bpe_merges(load_table(spark, sf_dir, "documents"))
    rows = [(r, lhs, rhs, lhs + rhs, cnt) for r, (lhs, rhs, cnt) in enumerate(merges, 1)]
    return spark.createDataFrame(
        rows, schema="rank INT, lhs STRING, rhs STRING, merged STRING, pair_count BIGINT"
    ).orderBy("rank")


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tf AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest({_TOKS_SQL}) AS t FROM documents)
        GROUP BY t
    ),
    ranked AS (
        SELECT c, CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS r
        FROM tf
    ),
    pts AS (
        SELECT ln(CAST(r AS DOUBLE)) AS lx, ln(CAST(c AS DOUBLE)) AS ly
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(lx AS DECIMAL(38,18))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ly AS DECIMAL(38,18))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(lx * ly AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(lx * lx AS DECIMAL(38,18))) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT n AS n_vocab,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS log_intercept
    FROM s
    """,
    tags=("llm", "text"),
    uwin=(
        'vocab-sized rank-frequency table (documented distributed-rank swap)',
    ),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: least-squares
    slope of ln(freq) on ln(rank) — natural language sits near -1, and
    the deviation is a standard corpus-health diagnostic next to the
    Benford audit on the numeric side (template/boilerplate corpora
    flatten the head, spam steepens the tail). The rank window runs
    over the VOCAB table (already aggregated), and all regression
    moments are exact-decimal sums of per-row doubles — one corpus
    scan, vocab-sized everything after, 1-row output. For a vocab too
    large for one rank window, the distributed-rank idiom swaps in
    (same as events_gini_coefficient)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = W.Window.orderBy(F.desc("c"), F.asc("t"))
    pts = tf.withColumn("r", F.row_number().over(w).cast("bigint")).select(
        F.log(F.col("r").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("lx").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum(F.col("ly").cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(38,18)")).cast("double").alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(38,18)")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        F.col("n").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("log_intercept"),
    )


SPAN_LCG_A, SPAN_LCG_B, SPAN_LCG_P = 1_103_515_245, 12_345, 2_147_483_647
SPAN_RATIO = 0.05  # spans per token = mask_ratio 0.15 / mean span 3
SPAN_LEN = 3


@query(
    "text_span_corruption",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    plan AS (
        SELECT doc_id, n_tokens,
               CAST(FLOOR(CAST(n_tokens AS DOUBLE) * {SPAN_RATIO}) AS BIGINT)
                   AS n_spans
        FROM toks
    ),
    spans AS (
        SELECT doc_id, n_tokens, n_spans,
               unnest(range(1, n_spans + 1)) AS k
        FROM plan
    )
    SELECT doc_id, CAST(k AS BIGINT) AS span_idx, n_tokens, n_spans,
           (({SPAN_LCG_A} * (doc_id * 31 + k) + {SPAN_LCG_B}) % {SPAN_LCG_P})
               % GREATEST(n_tokens - {SPAN_LEN - 1}, 1) + 1 AS start_tok,
           LEAST((({SPAN_LCG_A} * (doc_id * 31 + k) + {SPAN_LCG_B}) % {SPAN_LCG_P})
                     % GREATEST(n_tokens - {SPAN_LEN - 1}, 1) + {SPAN_LEN},
                 n_tokens) AS end_tok
    FROM spans
    ORDER BY doc_id, span_idx
    """,
    tags=("llm", "text"),
)
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masking plan: for each document, pick
    ⌊0.05·n⌋ deterministic span starts (15% mask ratio at mean span 3)
    via an integer LCG keyed on (doc_id, span index), clipped to the
    token range. Emits one row per span — the downstream mask applier
    consumes (doc_id, start, end) without ever re-tokenizing. The plan
    is one tokenize pass plus a sequence explode whose fan-out is the
    mask budget (5% of tokens), and the LCG replays bit-for-bit on any
    cluster layout — rerunning the masking job on 100 TB yields the
    same spans, which is what checkpoint-resumable preprocessing
    needs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = d.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("n_tokens").cast("double") * SPAN_RATIO).cast("bigint").alias(
            "n_spans"
        ),
    )
    spans = plan.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.explode(
            F.when(
                F.col("n_spans") >= 1,
                F.sequence(F.lit(1).cast("bigint"), F.col("n_spans")),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("k"),
    )
    start = (
        (
            F.lit(SPAN_LCG_A).cast("bigint") * (F.col("doc_id") * 31 + F.col("k"))
            + SPAN_LCG_B
        )
        % SPAN_LCG_P
    ) % F.greatest(F.col("n_tokens") - (SPAN_LEN - 1), F.lit(1)) + 1
    return spans.select(
        "doc_id",
        F.col("k").alias("span_idx"),
        "n_tokens",
        "n_spans",
        start.alias("start_tok"),
        F.least(start + (SPAN_LEN - 1), F.col("n_tokens")).alias("end_tok"),
    ).orderBy("doc_id", "span_idx")


ENTROPY_LOW = 2.0  # nats; below = repetitive/degenerate text
ENTROPY_HIGH = 4.5  # nats; above = likely binary/gibberish


@query(
    "text_char_entropy_filter",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, substring(text, CAST(i AS INT), 1) AS ch
        FROM documents, UNNEST(range(1, length(text) + 1)) AS t(i)
    ),
    freq AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM chars GROUP BY doc_id, ch
    ),
    probs AS (
        SELECT doc_id, c,
               CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id) AS p
        FROM freq
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_chars_counted,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
               CAST(SUM(CAST(round(-p * ln(p), 12) AS DECIMAL(38,12))) AS DOUBLE)
                   AS entropy
        FROM probs GROUP BY doc_id
    )
    SELECT doc_id, n_chars_counted, n_distinct_chars, entropy,
           entropy < {ENTROPY_LOW} AS flag_low_entropy,
           entropy > {ENTROPY_HIGH} AS flag_high_entropy
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality filter: Shannon entropy (nats) of each
    document's character distribution, with low/high flags — the cheap
    detector for degenerate repetition (entropy collapses) and
    binary-smuggled-as-text (entropy saturates) that text-corpus
    pipelines run alongside the Gopher rules. One position explode +
    one (doc, char) groupBy; the per-doc term count is bounded by the
    alphabet, and −Σp·ln p goes through round-12 decimals so the
    parallel sum matches the oracle bitwise."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chars = d.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i")
    ).select("doc_id", F.expr("substring(text, CAST(i AS INT), 1)").alias("ch"))
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    wdoc = W.Window.partitionBy("doc_id")
    probs = freq.select(
        "doc_id", "c", (F.col("c").cast("double") / F.sum("c").over(wdoc)).alias("p")
    )
    per_doc = probs.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.round(-F.col("p") * F.log("p"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("entropy"),
    )
    return per_doc.select(
        "doc_id",
        "n_chars_counted",
        "n_distinct_chars",
        "entropy",
        (F.col("entropy") < ENTROPY_LOW).alias("flag_low_entropy"),
        (F.col("entropy") > ENTROPY_HIGH).alias("flag_high_entropy"),
    ).orderBy("doc_id")


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               concat(ws[CAST(i AS INT)], ' ', ws[CAST(i AS INT) + 1], ' ',
                      ws[CAST(i AS INT) + 2]) AS g
        FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 3
    ),
    doc_grams AS (SELECT DISTINCT doc_id, g FROM grams),
    df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM doc_grams GROUP BY g)
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS novelty,
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) < 0.5 AS flag_boilerplate
    FROM doc_grams d JOIN df f ON d.g = f.g
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "text", "quality", "dedup"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty score: the fraction of a document's distinct
    word trigrams that appear in NO other document — low novelty means
    boilerplate/template text (the soft sibling of exact line dedup,
    and the memorization-risk screen run before adding a source to a
    training mix). Shingle explode, corpus document-frequency groupBy,
    gram-keyed join back — every stage is the inverted-index shape the
    Jaccard dedup family already uses, so the same shingle-skew
    controls apply at 100 TB."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 3
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("ws", i.cast("int")),
                    F.element_at("ws", (i + 1).cast("int")),
                    F.element_at("ws", (i + 2).cast("int")),
                ),
            )
        ).alias("g"),
    )
    doc_grams = grams.distinct()
    df_t = doc_grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    novel = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        doc_grams.join(df_t, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
            ((novel.cast("double") / F.count(F.lit(1))) < 0.5).alias("flag_boilerplate"),
        )
        .orderBy("doc_id")
    )


@query("text_bpe_encode", tags=("llm", "text", "iterative"))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the serving half of tokenizer training: learn the
    first 8 merge rules exactly as text_bpe_train_merges does (bounded
    1-row collect per round on the vocab-sized table), then apply them
    IN RANK ORDER to every document's tokens as chained JVM-side greedy
    folds and report per-document BPE statistics (symbol count,
    compression vs characters). This is the map-side shape a 100 TB
    tokenization job has: the merge table is a broadcast-sized
    artifact, encoding is embarrassingly parallel column work, and no
    Python touches the hot path. Rows-only in the gate (the merge
    sequence is iterative); the greedy fold semantics are pinned by the
    trainer's golden-parity test plus the encode unit test
    (tests/test_text_ops.py)."""
    d = load_table(spark, sf_dir, "documents")
    merges = _learn_bpe_merges(d)
    # encode: per document token, chars -> chained folds in rank order
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("w")).select(
        "doc_id", F.split("w", "").alias("syms")
    )
    enc = F.col("syms")
    for lhs, rhs, _cnt in merges:
        enc = _bpe_merge(enc, lhs, rhs)
    return (
        toks.select("doc_id", F.size("syms").alias("n_chars"), F.size(enc).alias("n_bpe"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            (F.sum("n_bpe").cast("double") / F.sum("n_chars")).alias("compression"),
        )
        .orderBy("doc_id")
    )


HEAPS_STEP = 50  # vocabulary-growth checkpoints every 50 docs


@query(
    "text_heaps_law_fit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
    ),
    doc_tok AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY doc_id
    ),
    first_doc AS (
        SELECT t, CAST(MIN(doc_id) AS BIGINT) AS fd FROM toks GROUP BY t
    ),
    cps AS (
        SELECT CAST((k + 1) * {HEAPS_STEP} AS BIGINT) AS cp
        FROM UNNEST(range(0, 10)) AS u(k)
    ),
    curve AS (
        SELECT c.cp,
               (SELECT CAST(SUM(n_tok) AS BIGINT) FROM doc_tok WHERE doc_id < c.cp) AS n,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM first_doc WHERE fd < c.cp) AS v
        FROM cps c
    ),
    pts AS (
        SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
        FROM curve WHERE n > 0 AND v > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT k AS n_checkpoints,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 9) AS heaps_beta,
           round(exp(sy / k - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx / k), 6)
               AS heaps_k
    FROM s
    ORDER BY n_checkpoints
    """,
    tags=("llm", "text"),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth, V(N) = K·N^β: distinct
    vocabulary and token totals at every-50-docs checkpoints (each
    token contributes through its FIRST-occurrence doc, so the whole
    curve comes from one vocab-sized min table and one doc-sized count
    table — never a per-checkpoint rescan), then a ln-ln least-squares
    fit like the Zipf operator. β far from the corpus's usual ~0.5
    signals template flooding or vocabulary collapse — the growth-curve
    sibling of the Zipf health check."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("t"))
    doc_tok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    first_doc = toks.groupBy("t").agg(F.min("doc_id").alias("fd"))
    cps = spark.range(1, 11).select((F.col("id") * HEAPS_STEP).alias("cp"))
    n_curve = (
        doc_tok.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") < F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("n_tok").alias("n"))
    )
    v_curve = (
        first_doc.crossJoin(F.broadcast(cps))
        .filter(F.col("fd") < F.col("cp"))
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    pts = (
        n_curve.join(v_curve, "cp")
        .filter((F.col("n") > 0) & (F.col("v") > 0))
        .select(
            F.log(F.col("n").cast("double")).alias("x"),
            F.log(F.col("v").cast("double")).alias("y"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round("x", 12).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round("y", 12).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast("decimal(38,12)")).cast("double").alias("sxy"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").alias("n_checkpoints"),
        F.round(beta, 9).alias("heaps_beta"),
        F.round(F.exp(F.col("sy") / F.col("k") - beta * F.col("sx") / F.col("k")), 6).alias(
            "heaps_k"
        ),
    ).orderBy("n_checkpoints")


@query(
    "text_lang_id_confusion",
    oracle=f"""
    WITH preds AS (
        SELECT lang AS declared, {T.sql_lang_id()} AS predicted
        FROM documents
    ),
    cells AS (
        SELECT declared, predicted, CAST(COUNT(*) AS BIGINT) AS n
        FROM preds GROUP BY declared, predicted
    ),
    support AS (
        SELECT declared, CAST(SUM(n) AS BIGINT) AS total FROM cells GROUP BY declared
    )
    SELECT c.declared, c.predicted, c.n,
           CAST(c.n AS DOUBLE) / s.total AS frac_of_declared,
           c.declared = c.predicted AS is_correct
    FROM cells c JOIN support s ON c.declared = s.declared
    ORDER BY c.declared, c.predicted
    """,
    tags=("llm", "text", "ml-eval"),
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the engine's own stopword-profile language
    detector against the declared labels — eating our own eval
    dogfood: text_lang_id reports per-document hits, this aggregates
    WHERE the detector fails (which language pairs confuse it), the
    view that actually drives threshold/profile fixes. One grouped
    count over the per-row prediction; languages² cells."""
    d = load_table(spark, sf_dir, "documents")
    preds = d.select(
        F.col("lang").alias("declared"), T.lang_id(F.col("text")).alias("predicted")
    )
    cells = preds.groupBy("declared", "predicted").agg(F.count(F.lit(1)).alias("n"))
    support = cells.groupBy("declared").agg(F.sum("n").alias("total"))
    return (
        cells.join(support, "declared")
        .select(
            "declared",
            "predicted",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("frac_of_declared"),
            (F.col("declared") == F.col("predicted")).alias("is_correct"),
        )
        .orderBy("declared", "predicted")
    )


RAKE_TOP_K = 20

_RAKE_STOPS = T._sql_tuple(T.STOPWORDS_EN)


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks0 AS (
        SELECT doc_id, {_TOKS_SQL} AS ws FROM documents
    ),
    tok AS (
        SELECT doc_id, t.i - 1 AS pos, lower(ws[t.i]) AS w
        FROM toks0, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    marked AS (
        SELECT doc_id, pos, w,
               CASE WHEN w IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS is_stop
        FROM tok
    ),
    phrased AS (
        SELECT doc_id, pos, w, pid FROM (
            SELECT doc_id, pos, w, is_stop,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS pid
            FROM marked
        ) WHERE is_stop = 0
    ),
    with_len AS (
        SELECT doc_id, pid, pos, w,
               CAST(COUNT(*) OVER (PARTITION BY doc_id, pid) AS BIGINT) AS plen
        FROM phrased
    ),
    word_stats AS (
        SELECT w,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree
        FROM with_len GROUP BY w
    ),
    inst AS (
        SELECT l.doc_id, l.pid,
               string_agg(l.w, ' ' ORDER BY l.pos) AS phrase,
               CAST(MIN(l.plen) AS BIGINT) AS n_words,
               CAST(SUM(CAST(ROUND(CAST(s.degree AS DOUBLE) / s.freq, 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS score
        FROM with_len l JOIN word_stats s ON l.w = s.w
        GROUP BY l.doc_id, l.pid
    ),
    dedup AS (
        SELECT phrase, MIN(n_words) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               MIN(score) AS score
        FROM inst GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences, ROUND(score, 9) AS rake_score,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY ROUND(score, 9) DESC, phrase ASC) AS rnk
        FROM dedup WHERE n_words >= 2
    )
    WHERE rnk <= {RAKE_TOP_K}
    ORDER BY rank
    """,
    tags=("llm", "text", "keywords"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; word score = degree/freq
    where degree sums the lengths of every phrase containing the word;
    phrase score sums its word scores; top-20 multi-word phrases
    corpus-wide. Phrase segmentation is pure window arithmetic (the
    running count of stopwords seen is the phrase id), so no regex
    dialect is involved. The phrase-instance rebuild keys on
    (doc, phrase-id) — corpus-sized but map-side-combinable — and word
    stats are a vocab-sized table; ranking is quantize-then-rank. At
    100 TB the only corpus-order window is per-document (bounded
    partitions)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias(
            "pos", "w0"
        ),
    ).select("doc_id", "pos", F.lower("w0").alias("w"))
    marked = tok.select(
        "doc_id",
        "pos",
        "w",
        F.when(F.col("w").isin(*T.STOPWORDS_EN), 1).otherwise(0).alias("is_stop"),
    )
    wrun = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    phrased = (
        marked.select(
            "doc_id", "pos", "w", "is_stop", F.sum("is_stop").over(wrun).alias("pid")
        )
        .filter(F.col("is_stop") == 0)
        .drop("is_stop")
    )
    with_len = phrased.select(
        "doc_id",
        "pid",
        "pos",
        "w",
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id", "pid"))
        .cast("bigint")
        .alias("plen"),
    )
    word_stats = with_len.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    inst = (
        with_len.join(word_stats, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
            ).alias("phrase"),
            F.min("plen").cast("bigint").alias("n_words"),
            F.sum(
                F.round(F.col("degree").cast("double") / F.col("freq"), 12).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("score"),
        )
    )
    dedup = inst.groupBy("phrase").agg(
        F.min("n_words").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("score").alias("score"),
    )
    # global top-k via TakeOrdered (orderBy+limit), NOT an unpartitioned
    # ranking window over the corpus-sized phrase table; the row_number
    # window then runs on the 20-row result only.
    top = (
        dedup.filter(F.col("n_words") >= 2)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.round("score", 9).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(RAKE_TOP_K)
    )
    wr = Window.orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
    return top.select(
        "phrase",
        "n_words",
        "n_occurrences",
        "rake_score",
        F.row_number().over(wr).cast("bigint").alias("rank"),
    ).orderBy("rank")


_BLEU_G1 = T.sql_ngrams_all("hws", 1)
_BLEU_G2 = T.sql_ngrams_all("hws", 2)
_BLEU_R1 = T.sql_ngrams_all("rws", 1)
_BLEU_R2 = T.sql_ngrams_all("rws", 2)


@query(
    "text_bleu_pairwise",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS ws FROM documents),
    pairs AS (
        SELECT h.doc_id AS hyp_id, r.doc_id AS ref_id,
               h.ws AS hws, r.ws AS rws
        FROM toks h JOIN toks r ON r.doc_id = h.doc_id + 1
    ),
    hg AS (
        SELECT hyp_id, 1 AS n, unnest({_BLEU_G1}) AS g FROM pairs
        UNION ALL
        SELECT hyp_id, 2 AS n, unnest({_BLEU_G2}) AS g FROM pairs
    ),
    rg AS (
        SELECT hyp_id, 1 AS n, unnest({_BLEU_R1}) AS g FROM pairs
        UNION ALL
        SELECT hyp_id, 2 AS n, unnest({_BLEU_R2}) AS g FROM pairs
    ),
    hc AS (SELECT hyp_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM hg GROUP BY hyp_id, n, g),
    rc AS (SELECT hyp_id, n, g, CAST(COUNT(*) AS BIGINT) AS c FROM rg GROUP BY hyp_id, n, g),
    clip AS (
        SELECT h.hyp_id, h.n,
               CAST(SUM(LEAST(h.c, COALESCE(r.c, 0))) AS BIGINT) AS m,
               CAST(SUM(h.c) AS BIGINT) AS tot
        FROM hc h LEFT JOIN rc r ON h.hyp_id = r.hyp_id AND h.n = r.n AND h.g = r.g
        GROUP BY h.hyp_id, h.n
    ),
    pn AS (
        SELECT c1.hyp_id,
               CAST(c1.m AS DOUBLE) / c1.tot AS p1,
               CAST(c2.m AS DOUBLE) / c2.tot AS p2
        FROM clip c1 JOIN clip c2 ON c1.hyp_id = c2.hyp_id
        WHERE c1.n = 1 AND c2.n = 2
    )
    SELECT p.hyp_id, pr.ref_id,
           CAST(len(pr.hws) AS BIGINT) AS len_h,
           CAST(len(pr.rws) AS BIGINT) AS len_r,
           ROUND(p.p1, 9) AS p1, ROUND(p.p2, 9) AS p2,
           ROUND(LEAST(CAST(0.0 AS DOUBLE),
                       1.0 - CAST(len(pr.rws) AS DOUBLE) / len(pr.hws))
                 + 0.5 * ROUND(LN(GREATEST(p.p1, 1e-12)), 12)
                 + 0.5 * ROUND(LN(GREATEST(p.p2, 1e-12)), 12), 6) AS log_bleu2
    FROM pn p JOIN pairs pr ON p.hyp_id = pr.hyp_id
    ORDER BY p.hyp_id
    """,
    tags=("llm", "text", "eval"),
)
def text_bleu_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise log-BLEU-2 (clipped n-gram precision + brevity
    penalty) between each document and its doc_id+1 neighbor — the
    reference-overlap metric generation pipelines run between model
    output and gold text. The pairing is an equi-join on doc_id+1, so
    no window touches the corpus; gram clipping is an
    (hyp, n, gram)-keyed join of two grouped count tables — all
    integer until the final rational precisions. Log terms follow the
    round-12 ln pattern, and the 1e-12 floor makes zero-overlap pairs
    a finite sentinel instead of -inf. At 100 TB every stage keys on
    (pair, gram): map-side-combinable, no skew beyond gram frequency."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("ws")
    )
    toks = pin(toks)  # hyp + ref sides (scan-leaf lint)
    h = toks.select(F.col("doc_id").alias("hyp_id"), F.col("ws").alias("hws"))
    r = toks.select(F.col("doc_id").alias("ref_id"), F.col("ws").alias("rws"))
    pairs = h.join(r, F.col("ref_id") == F.col("hyp_id") + 1)

    def gram_counts(col: str, out: str) -> DataFrame:
        g1 = pairs.select(
            "hyp_id", F.lit(1).alias("n"), F.explode(T.ngrams_all(F.col(col), 1)).alias("g")
        )
        g2 = pairs.select(
            "hyp_id", F.lit(2).alias("n"), F.explode(T.ngrams_all(F.col(col), 2)).alias("g")
        )
        return (
            g1.unionAll(g2)
            .groupBy("hyp_id", "n", "g")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    hc = gram_counts("hws", "c")
    rc = gram_counts("rws", "cr")
    clip = (
        hc.join(rc, ["hyp_id", "n", "g"], "left")
        .groupBy("hyp_id", "n")
        .agg(
            F.sum(F.least(F.col("c"), F.coalesce(F.col("cr"), F.lit(0))))
            .cast("bigint")
            .alias("m"),
            F.sum("c").cast("bigint").alias("tot"),
        )
    )
    c1 = clip.filter(F.col("n") == 1).select(
        "hyp_id", (F.col("m").cast("double") / F.col("tot")).alias("p1")
    )
    c2 = clip.filter(F.col("n") == 2).select(
        "hyp_id", (F.col("m").cast("double") / F.col("tot")).alias("p2")
    )
    pn = c1.join(c2, "hyp_id")
    out = pn.join(pairs, "hyp_id").select(
        "hyp_id",
        "ref_id",
        F.size("hws").cast("bigint").alias("len_h"),
        F.size("rws").cast("bigint").alias("len_r"),
        F.round("p1", 9).alias("p1"),
        F.round("p2", 9).alias("p2"),
        F.round(
            F.least(
                F.lit(0.0), 1.0 - F.size("rws").cast("double") / F.size("hws")
            )
            + 0.5 * F.round(F.log(F.greatest(F.col("p1"), F.lit(1e-12))), 12)
            + 0.5 * F.round(F.log(F.greatest(F.col("p2"), F.lit(1e-12))), 12),
            6,
        ).alias("log_bleu2"),
    )
    return out.orderBy("hyp_id")


@query(
    "text_lexical_diversity",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_SQL}) AS t FROM documents
    ),
    freq AS (
        SELECT source, t, count(*) AS f FROM tok GROUP BY source, t
    ),
    spectrum AS (
        SELECT source,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(f * f) AS BIGINT) AS sum_f2,
               CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax,
               CAST(SUM(f * (f - 1)) AS BIGINT) AS rep_pairs
        FROM freq GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           round(CAST(n_types AS DOUBLE) / n_tokens, 9) AS ttr,
           round(CAST(hapax AS DOUBLE) / n_types, 9) AS hapax_ratio,
           round(10000.0 * (sum_f2 - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 9) AS yule_k,
           round(CAST(rep_pairs AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 9)
               AS simpson_d
    FROM spectrum
    ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: type-token ratio, hapax
    ratio, Yule's K = 10⁴·(Σf² − N)/N², and Simpson's repeat-rate
    D = Σf(f−1)/(N(N−1)) — the corpus-quality fingerprints that
    separate templated/boilerplate sources (low diversity, high K)
    from organic text, standard levers in pretraining-mix audits
    alongside Zipf/Heaps fits. Everything derives from the token
    frequency spectrum: one token explode + two grouped integer
    aggregations — all map-side-combinable, vocabulary-bounded, one
    corpus scan at any scale; the metrics are exact integer sums with
    single IEEE divisions rounded at 9."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(T.tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("f"))
    spectrum = freq.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("sum_f2"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
        F.sum(F.col("f") * (F.col("f") - 1)).cast("bigint").alias("rep_pairs"),
    )
    n = F.col("n_tokens").cast("double")
    return spectrum.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 9).alias("ttr"),
        F.round(F.col("hapax").cast("double") / F.col("n_types"), 9).alias(
            "hapax_ratio"
        ),
        F.round(10000.0 * (F.col("sum_f2") - F.col("n_tokens")) / (n * n), 9).alias(
            "yule_k"
        ),
        F.round(
            F.col("rep_pairs").cast("double") / (n * (F.col("n_tokens") - 1)), 9
        ).alias("simpson_d"),
    ).orderBy("source")


# 0.5*ln(2): JS mass of corpus tokens ABSENT from a source (there
# m = q/2 exactly) — string-cast so both engines parse the same double
_HALF_LN2 = "0.34657359027997264"


@query(
    "text_source_js_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_SQL}) AS t FROM documents
    ),
    st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY source, t),
    stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
             FROM st GROUP BY source),
    ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM ct),
    terms AS (
        SELECT st.source,
               CAST(round(
                   0.5 * ((CAST(st.c_st AS DOUBLE) / stot.n_s)
                          * ln((CAST(st.c_st AS DOUBLE) / stot.n_s)
                               / (0.5 * (CAST(st.c_st AS DOUBLE) / stot.n_s
                                         + CAST(ct.c_t AS DOUBLE) / tot.n)))
                          + (CAST(ct.c_t AS DOUBLE) / tot.n)
                          * ln((CAST(ct.c_t AS DOUBLE) / tot.n)
                               / (0.5 * (CAST(st.c_st AS DOUBLE) / stot.n_s
                                         + CAST(ct.c_t AS DOUBLE) / tot.n)))),
                   9) AS DECIMAL(38,12)) AS term,
               CAST(round(CAST(ct.c_t AS DOUBLE) / tot.n, 12)
                    AS DECIMAL(38,12)) AS q_mass
        FROM st JOIN stot USING (source) JOIN ct USING (t) CROSS JOIN tot
    )
    SELECT source, count(*) AS vocab_overlap,
           round(CAST(sum(term) AS DOUBLE)
                 + CAST('{_HALF_LN2}' AS DOUBLE)
                   * (1.0 - CAST(sum(q_mass) AS DOUBLE)), 6)
               AS js_divergence
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the corpus mixture — the SYMMETRIC, bounded [0, ln2]
    counterpart of the KL drift score, the usual choice for
    pretraining-mix monitoring because it never explodes on
    source-only tokens. Corpus tokens ABSENT from a source contribute
    exactly 0.5·ln2·q_t (m = q/2 there), so their whole mass folds
    into the closed form 0.5·ln2·(1 − Σ_present q_t) and the
    computation stays on the PRESENT (source, token) table — one
    explode + vocab-bounded joins, identical shape and cost to the KL
    operator, no vocab×sources blowup for the absent side."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(T.tokens(F.col("text"))).alias("t"))
    st = pin(tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).alias("c_st")
    ))  # margins + terms (scan-leaf lint)
    stot = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    ct = st.groupBy("t").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    tot = ct.agg(F.sum("c_t").cast("bigint").alias("n"))
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n")
    m = 0.5 * (p + q)
    term = 0.5 * (p * F.log(p / m) + q * F.log(q / m))
    terms = (
        st.join(F.broadcast(stot), "source")
        .join(ct, "t")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(term, 9).cast("decimal(38,12)").alias("term"),
            F.round(q, 12).cast("decimal(38,12)").alias("q_mass"),
        )
    )
    half_ln2 = float(_HALF_LN2)
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_overlap"),
            F.round(
                F.sum("term").cast("double")
                + half_ln2 * (1.0 - F.sum("q_mass").cast("double")),
                6,
            ).alias("js_divergence"),
        )
        .orderBy("source")
    )


BURSTY_MIN_DF = 5  # ignore ultra-rare terms
BURSTY_TOP_K = 30


@query(
    "text_term_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
    ),
    per_doc AS (
        SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY t, doc_id
    ),
    stats AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS cf,
               CAST(MAX(tf) AS BIGINT) AS max_tf
        FROM per_doc GROUP BY t
        HAVING COUNT(*) >= {BURSTY_MIN_DF}
    ),
    ranked AS (
        SELECT t, df, cf, max_tf,
               CAST(cf AS DOUBLE) / df AS burstiness,
               ROW_NUMBER() OVER (ORDER BY CAST(cf AS DOUBLE) / df DESC, t)
                   AS rn
        FROM stats
    )
    SELECT t AS term, df, cf, max_tf, round(burstiness, 9) AS burstiness,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {BURSTY_TOP_K}
    ORDER BY rank
    """,
    tags=("llm", "text"),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church-Gale): cf/df — the mean occurrences of
    a term WITHIN the documents that contain it. Content-bearing terms
    burst (high cf/df: when they appear, they appear repeatedly);
    function words spread thin — the signal that separates topical
    keywords from glue vocabulary independently of raw frequency, and
    a boilerplate detector when whole templates burst. One token
    explode + two grouped counts (both map-side-combinable,
    vocab-bounded) + a TakeOrdered top-k. Exact integer ratio, single
    IEEE division."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("t"))
    per_doc = tok.groupBy("t", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = (
        per_doc.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("cf"),
            F.max("tf").cast("bigint").alias("max_tf"),
        )
        .filter(F.col("df") >= BURSTY_MIN_DF)
    )
    w = Window.orderBy(
        (F.col("cf").cast("double") / F.col("df")).desc(), F.col("t")
    )
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BURSTY_TOP_K)
        .select(
            F.col("t").alias("term"),
            "df",
            "cf",
            "max_tf",
            F.round(F.col("cf").cast("double") / F.col("df"), 9).alias("burstiness"),
            F.col("rn").cast("bigint").alias("rank"),
        )
        .orderBy("rank")
    )


RBO_DEPTH = 20  # evaluation depth D
RBO_P = 0.9  # persistence parameter
# per-depth weight p^(d-1)/d as shared shortest-repr literals (the NDCG
# discount discipline: bare numeric literals parse as DECIMAL, so every
# branch is CAST(... AS DOUBLE) from the string form)
_RBO_W = [repr(RBO_P ** (d - 1) / d) for d in range(1, RBO_DEPTH + 1)]
_RBO_W_CASE = (
    "CASE d "
    + " ".join(f"WHEN {d} THEN CAST('{w}' AS DOUBLE)" for d, w in enumerate(_RBO_W, 1))
    + " ELSE CAST(0.0 AS DOUBLE) END"
)


@query(
    "text_rbo_rank_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS s1,
               CAST(len({_SQL_TOKENS}) AS BIGINT) AS s2
        FROM documents
    ),
    ra AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s1 DESC, doc_id) AS r
        FROM toks QUALIFY r <= {RBO_DEPTH}
    ),
    rb AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s2 DESC, doc_id) AS r
        FROM toks QUALIFY r <= {RBO_DEPTH}
    ),
    mx AS (
        SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
               greatest(COALESCE(ra.r, {RBO_DEPTH + 1}),
                        COALESCE(rb.r, {RBO_DEPTH + 1})) AS m
        FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    ),
    depths AS (SELECT unnest(range(1, {RBO_DEPTH + 1})) AS d),
    ov AS (
        SELECT d.d,
               CAST(count(*) FILTER (WHERE mx.m <= d.d) AS BIGINT) AS overlap
        FROM depths d LEFT JOIN mx ON mx.m <= d.d
        GROUP BY d.d
    )
    SELECT d, overlap,
           round({_RBO_W_CASE} * overlap, 12) AS term,
           round(CAST((1.0 - {RBO_P!r}) AS DOUBLE)
                 * CAST(SUM(CAST(round({_RBO_W_CASE} * overlap, 12)
                                 AS DECIMAL(38,12)))
                        OVER (ORDER BY d) AS DOUBLE), 9) AS rbo_min_at_d
    FROM ov
    ORDER BY d
    """,
    tags=("llm", "text", "ranking"),
    uwin=(
        'depth-K rank-overlap grid (K rows)',
    ),
)
def text_rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    document rankings — by raw char length vs by token count — the
    top-weighted, prefix-convergent similarity retrieval teams use to
    compare two rankers without a relevance oracle. RBO_min@D =
    (1−p)·Σ_{{d≤D}} p^{{d−1}}·|A_d ∩ B_d|/d; prefix intersection at
    depth d is just the count of items whose max(rank_A, rank_B) ≤ d,
    so the whole metric reads off a D-row grid.

    Scale: only the top-D of each list matters — both rankings come
    from TakeOrdered(D) (never a global sort), the full-outer join is
    ≤2D rows, and the depth fold is a D-row window. Weights are shared
    shortest-repr literals; per-depth terms round-12 then decimal-sum,
    so the cumulative RBO is order-independent."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("s1"),
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("s2"),
    )
    ra = (
        toks.orderBy(F.col("s1").desc(), "doc_id")
        .limit(RBO_DEPTH)
        .select("doc_id", F.row_number().over(Window.orderBy(F.col("s1").desc(), "doc_id")).alias("r"))
    )
    rb = (
        toks.orderBy(F.col("s2").desc(), "doc_id")
        .limit(RBO_DEPTH)
        .select("doc_id", F.row_number().over(Window.orderBy(F.col("s2").desc(), "doc_id")).alias("r"))
    )
    sentinel = F.lit(RBO_DEPTH + 1)
    mx = (
        ra.select(F.col("doc_id").alias("ida"), F.col("r").alias("ra"))
        .join(
            rb.select(F.col("doc_id").alias("idb"), F.col("r").alias("rb")),
            F.col("ida") == F.col("idb"),
            "full_outer",
        )
        .select(
            F.greatest(F.coalesce("ra", sentinel), F.coalesce("rb", sentinel)).alias("m")
        )
    )
    depths = spark.range(1, RBO_DEPTH + 1).select(F.col("id").alias("d"))
    ov = (
        depths.join(F.broadcast(mx), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").cast("bigint").alias("overlap"))
    )
    w_case = F.expr(_RBO_W_CASE)
    term = F.round(w_case * F.col("overlap"), 12)
    cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ov.select("d", "overlap", term.alias("term"))
        .select(
            "d",
            "overlap",
            "term",
            F.round(
                F.lit(1.0 - RBO_P)
                * F.sum(F.col("term").cast("decimal(38,12)")).over(cum).cast("double"),
                9,
            ).alias("rbo_min_at_d"),
        )
        .orderBy("d")
    )


_PIECE_RE = "[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9 ]"  # BPE-ish piece proxy


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len({_SQL_TOKENS}) AS BIGINT) AS words,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(regexp_extract_all(text, '{_PIECE_RE}')) AS BIGINT) AS pieces
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(pieces) AS BIGINT) AS total_pieces,
           round(CAST(SUM(pieces) AS DOUBLE) / SUM(words), 9) AS fertility,
           round(CAST(SUM(chars) AS DOUBLE) / SUM(words), 9) AS chars_per_word,
           round(CAST(SUM(chars) AS DOUBLE) / SUM(pieces), 9) AS chars_per_piece
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text", "tokenizer"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language — the compression metric
    tokenizer teams track when a vocabulary under-serves a language
    (high fertility = more pieces per word = more compute per token of
    signal; the multilingual-fairness number in the XLM-R/NLLB
    literature). Pieces come from a BPE-ish regex segmentation
    (lowercase runs / Titlecase / digits / punctuation singletons) as
    the vocabulary-free proxy; words are whitespace tokens.

    All counts are exact integers; the three ratios are single double
    divisions of integer sums — no accumulation anywhere. One scan,
    one lang-keyed agg; at 100 TB this is the cheapest shape there is."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("words"),
        F.length("text").cast("bigint").alias("chars"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PIECE_RE), 0))
        .cast("bigint")
        .alias("pieces"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("words").cast("bigint").alias("total_words"),
            F.sum("pieces").cast("bigint").alias("total_pieces"),
            F.round(F.sum("pieces").cast("double") / F.sum("words"), 9).alias("fertility"),
            F.round(F.sum("chars").cast("double") / F.sum("words"), 9).alias("chars_per_word"),
            F.round(F.sum("chars").cast("double") / F.sum("pieces"), 9).alias("chars_per_piece"),
        )
        .orderBy("lang")
    )


SB_ALPHA = 0.4  # Brants et al. 2007 stupid-backoff discount


@query(
    "text_stupid_backoff_trigram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents
    ),
    tri AS (
        SELECT doc_id, lang,
               t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM toks, UNNEST(range(1, greatest(0, len(t) - 2) + 1)) AS u(i)
    ),
    en_toks AS (SELECT t FROM toks WHERE lang = 'en'),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS w FROM en_toks) GROUP BY w
    ),
    n_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM en_toks, UNNEST(range(1, greatest(0, len(t) - 1) + 1)) AS u(i)
        ) GROUP BY 1, 2
    ),
    tri_en AS (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
            FROM en_toks, UNNEST(range(1, greatest(0, len(t) - 2) + 1)) AS u(i)
        ) GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT q.doc_id, q.lang,
               CASE WHEN t3.c IS NOT NULL THEN 0
                    WHEN b23.c IS NOT NULL THEN 1
                    WHEN u3.c IS NOT NULL THEN 2
                    ELSE 3 END AS lvl,
               round(CASE
                 WHEN t3.c IS NOT NULL
                   THEN ln(CAST(t3.c AS DOUBLE) / b12.c)
                 WHEN b23.c IS NOT NULL
                   THEN ln({SB_ALPHA!r} * (CAST(b23.c AS DOUBLE) / u2.c))
                 WHEN u3.c IS NOT NULL
                   THEN ln({SB_ALPHA!r} * {SB_ALPHA!r}
                           * (CAST(u3.c AS DOUBLE) / (SELECT n FROM n_tot)))
                 ELSE ln({SB_ALPHA!r} * {SB_ALPHA!r}
                         * (1.0 / (SELECT n FROM n_tot)))
               END, 12) AS lp
        FROM tri q
        LEFT JOIN tri_en t3 ON q.w1 = t3.w1 AND q.w2 = t3.w2 AND q.w3 = t3.w3
        LEFT JOIN bi b12 ON q.w1 = b12.w1 AND q.w2 = b12.w2
        LEFT JOIN bi b23 ON q.w2 = b23.w1 AND q.w3 = b23.w2
        LEFT JOIN uni u2 ON q.w2 = u2.w
        LEFT JOIN uni u3 ON q.w3 = u3.w
    ),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(CAST(lp AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS doc_lp,
               CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
               CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
               CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
               CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h0
        FROM scored GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(round(doc_lp, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 9) AS mean_doc_logprob,
           CAST(SUM(h3) AS BIGINT) AS tri_hits,
           CAST(SUM(h2) AS BIGINT) AS bigram_backoffs,
           CAST(SUM(h1) AS BIGINT) AS unigram_backoffs,
           CAST(SUM(h0) AS BIGINT) AS oov_floor
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text", "lm"),
)
def text_stupid_backoff_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language-model scoring with STUPID BACKOFF (Brants et
    al. 2007 — the web-scale LM scheme that replaces discounting with a
    fixed 0.4 back-off factor precisely because it distributes): the
    model trains on the lang='en' slice and scores EVERY document, so
    non-English text exercises the full back-off ladder
    (trigram → 0.4·bigram → 0.16·unigram → 0.16/N floor). Extends the
    order-2 text_bigram_logprob to order 3 with the ladder the CCNet
    family assumes.

    Exactness: every conditional probability is a ratio of exact
    integer counts evaluated by the same double expression; ln terms
    round at 1e-12 and decimal-sum (the NLL pattern — ln is
    libm-identical under this discipline). CASE arms are identical
    text in both engines, so the ladder picks the same branch per row.

    100 TB: counts are vocab-bounded hash aggs; scoring is five
    token-keyed equi-joins of the trigram stream against count tables
    — no corpus×corpus anywhere; per-doc and per-lang rollups are the
    only further shuffles."""
    d = load_table(spark, sf_dir, "documents")
    # uni/bi/tri count passes (scan-leaf lint)
    toks = pin(d.select("doc_id", "lang", T.tokens(F.col("text")).alias("t")))

    def grams(df, k: int, cols: list[str]):
        n = F.size("t")
        return df.select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.lit(0), n - (k - 1))),
                    lambda i: F.struct(
                        *[
                            F.element_at(F.col("t"), i + j).alias(cols[j])
                            for j in range(k)
                        ]
                    ),
                )
            ).alias("g"),
        ).select("doc_id", "lang", "g.*")

    tri = grams(toks, 3, ["w1", "w2", "w3"])
    en = toks.filter(F.col("lang") == "en")
    uni = (
        en.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n_tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bi = (
        grams(en, 2, ["w1", "w2"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tri_en = (
        grams(en, 3, ["w1", "w2", "w3"])
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    q = tri.alias("q")
    joined = (
        q.join(
            tri_en.select(
                F.col("w1").alias("t1"), F.col("w2").alias("t2"),
                F.col("w3").alias("t3"), F.col("c").alias("c3"),
            ),
            (F.col("q.w1") == F.col("t1"))
            & (F.col("q.w2") == F.col("t2"))
            & (F.col("q.w3") == F.col("t3")),
            "left",
        )
        .join(
            bi.select(
                F.col("w1").alias("ba1"), F.col("w2").alias("ba2"),
                F.col("c").alias("c12"),
            ),
            (F.col("q.w1") == F.col("ba1")) & (F.col("q.w2") == F.col("ba2")),
            "left",
        )
        .join(
            bi.select(
                F.col("w1").alias("bb1"), F.col("w2").alias("bb2"),
                F.col("c").alias("c23"),
            ),
            (F.col("q.w2") == F.col("bb1")) & (F.col("q.w3") == F.col("bb2")),
            "left",
        )
        .join(
            uni.select(F.col("w").alias("uw2"), F.col("c").alias("cu2")),
            F.col("q.w2") == F.col("uw2"),
            "left",
        )
        .join(
            uni.select(F.col("w").alias("uw3"), F.col("c").alias("cu3")),
            F.col("q.w3") == F.col("uw3"),
            "left",
        )
        .crossJoin(F.broadcast(n_tot))
    )
    a = F.lit(SB_ALPHA)
    lvl = (
        F.when(F.col("c3").isNotNull(), 0)
        .when(F.col("c23").isNotNull(), 1)
        .when(F.col("cu3").isNotNull(), 2)
        .otherwise(3)
    )
    lp = F.round(
        F.when(F.col("c3").isNotNull(), F.log(F.col("c3").cast("double") / F.col("c12")))
        .when(
            F.col("c23").isNotNull(),
            F.log(a * (F.col("c23").cast("double") / F.col("cu2"))),
        )
        .when(
            F.col("cu3").isNotNull(),
            F.log(a * a * (F.col("cu3").cast("double") / F.col("n"))),
        )
        .otherwise(F.log(a * a * (F.lit(1.0) / F.col("n")))),
        12,
    )
    scored = joined.select("doc_id", "lang", lvl.alias("lvl"), lp.alias("lp"))
    per_doc = scored.groupBy("doc_id", "lang").agg(
        (F.sum(F.col("lp").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1))).alias("doc_lp"),
        F.sum((F.col("lvl") == 0).cast("int")).cast("bigint").alias("h3"),
        F.sum((F.col("lvl") == 1).cast("int")).cast("bigint").alias("h2"),
        F.sum((F.col("lvl") == 2).cast("int")).cast("bigint").alias("h1"),
        F.sum((F.col("lvl") == 3).cast("int")).cast("bigint").alias("h0"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.round("doc_lp", 12).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_doc_logprob"),
            F.sum("h3").cast("bigint").alias("tri_hits"),
            F.sum("h2").cast("bigint").alias("bigram_backoffs"),
            F.sum("h1").cast("bigint").alias("unigram_backoffs"),
            F.sum("h0").cast("bigint").alias("oov_floor"),
        )
        .orderBy("lang")
    )


# vowel-group syllable heuristic: runs of [aeiouy] approximate syllables
_VOWEL_RUN = "[aeiouy]+"


@query(
    "text_readability_fk",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               CAST(len({_SQL_TOKENS}) AS BIGINT) AS words,
               CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                                    s -> trim(s) <> '')) AS BIGINT) AS sents,
               CAST(len(regexp_extract_all(lower(text), '{_VOWEL_RUN}'))
                    AS BIGINT) AS syllables
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, words, sents, syllables,
               round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)
                     - 84.6 * (CAST(syllables AS DOUBLE) / words), 9) AS fre,
               round(0.39 * (CAST(words AS DOUBLE) / sents)
                     + 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59, 9)
                   AS fk_grade
        FROM feat WHERE words > 0 AND sents > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(round(fre, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*), 9) AS mean_fre,
           round(CAST(SUM(CAST(round(fk_grade, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*), 9) AS mean_fk_grade,
           CAST(SUM(CASE WHEN fk_grade > 12.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_college_plus
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text", "quality"),
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade level per language —
    the readability screens curation pipelines use to route text into
    difficulty tiers (curriculum buckets, kid-safe subsets, legal-prose
    flags). Syllables use the standard vowel-group heuristic
    (runs of [aeiouy] in lowercased text), words are whitespace tokens,
    sentences the terminator split shared with text_sentence_split.

    Exactness: the three counts are exact integers; FRE/FK are one
    shared double expression per doc rounded at 1e-9, then decimal-
    summed into per-language means. One scan + one lang-keyed agg."""
    d = load_table(spark, sf_dir, "documents")
    sents = F.size(
        F.filter(
            F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
            lambda s: s != "",
        )
    ).cast("bigint")
    feat = d.select(
        "doc_id",
        "lang",
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("words"),
        sents.alias("sents"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_VOWEL_RUN), 0))
        .cast("bigint")
        .alias("syllables"),
    ).filter((F.col("words") > 0) & (F.col("sents") > 0))
    wps = F.col("words").cast("double") / F.col("sents")
    spw = F.col("syllables").cast("double") / F.col("words")
    scored = feat.select(
        "lang",
        F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 9).alias("fre"),
        F.round(F.lit(0.39) * wps + 11.8 * spw - 15.59, 9).alias("fk_grade"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.round("fre", 9).cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_fre"),
            F.round(
                F.sum(F.round("fk_grade", 9).cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_fk_grade"),
            F.sum((F.col("fk_grade") > 12.0).cast("int"))
            .cast("bigint")
            .alias("n_college_plus"),
        )
        .orderBy("lang")
    )


KN_DISCOUNT = 0.75  # absolute discount d (Chen & Goodman's fixed-d KN)
KN_TOP = 20


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM base WHERE len(toks) >= 2
    ),
    c2 AS (
        SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
               CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY 1, 2
    ),
    ctx AS (
        SELECT w1,
               CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS fanout
        FROM c2 GROUP BY w1
    ),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS fanin FROM c2 GROUP BY w2),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c2),
    scored AS (
        SELECT c2.w1, c2.w2, c2.c12,
               round(
                 GREATEST(c2.c12 - {KN_DISCOUNT!r}, 0.0) / ctx.c1
                 + ({KN_DISCOUNT!r} * ctx.fanout / ctx.c1)
                   * (cont.fanin / t.n_types), 9) AS p_kn
        FROM c2
        JOIN ctx ON c2.w1 = ctx.w1
        JOIN cont ON c2.w2 = cont.w2
        CROSS JOIN t
    )
    SELECT w1, w2, c12, p_kn
    FROM scored
    ORDER BY p_kn DESC, w1, w2
    LIMIT {KN_TOP}
    """,
    tags=("llm", "text"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    Goodman 1999's fixed-discount form, d = 0.75): P(w2|w1) =
    max(c12−d, 0)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/|bigram types|. The
    canonical LM smoothing — its CONTINUATION count (in how many
    distinct contexts does w2 appear?) is what separates it from the
    stupid-backoff and raw-MLE bigram operators already shipped:
    "Francisco" is frequent but only ever follows "San", so KN
    correctly refuses to predict it elsewhere. Top-20 bigrams by
    smoothed probability.

    100 TB: the corpus collapses to the distinct-bigram table in one
    groupBy; context totals, fanout (N1+ forward), fanin (N1+
    backward), and the type count are all aggregates OF that table;
    the scoring join is bigram-keyed. Everything after the first
    shuffle is vocabulary-sized — the same discipline as the TF-IDF /
    BPE operators. Integer counts → identical IEEE ratios, rounded at
    9 dp."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    base = d.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    bg = base.select(
        F.posexplode(F.slice("toks", 1, F.size("toks") - 1)).alias("i", "w1"),
        F.col("toks"),
    ).select("w1", F.element_at("toks", F.col("i") + 2).alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    c2 = pin(c2, eager=True)  # reused by 3 rollups + the scoring join
    ctx = c2.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("fanout"),
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("fanin"))
    t = c2.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    scored = (
        c2.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.greatest(F.col("c12") - KN_DISCOUNT, F.lit(0.0)) / F.col("c1")
                + (KN_DISCOUNT * F.col("fanout") / F.col("c1"))
                * (F.col("fanin") / F.col("n_types")),
                9,
            ).alias("p_kn"),
        )
    )
    return scored.orderBy(F.desc("p_kn"), "w1", "w2").limit(KN_TOP)


PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOP = 20


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM base WHERE len(toks) >= 2
    ),
    c2 AS (
        SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM bg GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM c2),
    m AS (
        SELECT w1, w2, n_ab,
               CAST(SUM(n_ab) OVER (PARTITION BY w1) AS BIGINT) AS n_a,
               CAST(SUM(n_ab) OVER (PARTITION BY w2) AS BIGINT) AS n_b
        FROM c2
    )
    SELECT w1, w2, n_ab,
           round(ln(CAST(n_ab AS DOUBLE) * t.n / (CAST(n_a AS DOUBLE) * n_b)), 9)
               AS pmi
    FROM m, tot t
    WHERE n_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
    tags=("llm", "text"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church & Hanks
    1990) — the classic "which word pairs stick together" signal used
    for tokenizer-merge candidates and phrase-aware quality filters:
    PMI(a,b) = ln(n_ab·N / (n_a·n_b)) over the adjacent-bigram table,
    with marginals taken as the bigram table's own row/column sums and
    a support floor (n_ab ≥ {PMI_MIN_COUNT}) before ranking.

    Scale shape: bigrams are built row-locally (shifted-slice zip, no
    shuffle), ONE grouped count produces the vocab²-bounded bigram
    table, and both marginals are windows OVER THAT TABLE — the corpus
    is never re-scanned or re-shuffled for them. Final cut is
    quantize-then-rank (PMI round-9, w1/w2 tiebreak) with a top-{PMI_TOP}
    limit that plans as TakeOrdered."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    n1 = F.size("toks") - 1
    bigram_arr = F.zip_with(
        F.slice("toks", 1, n1),
        F.slice(F.col("toks"), 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    c2 = (
        d.filter(F.size("toks") >= 2)
        .select(F.explode(bigram_arr).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    tot = c2.agg(F.sum("n_ab").cast("bigint").alias("n"))
    m = c2.select(
        "w1",
        "w2",
        "n_ab",
        F.sum("n_ab").over(Window.partitionBy("w1")).cast("bigint").alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy("w2")).cast("bigint").alias("n_b"),
    )
    return (
        m.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                9,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP)
    )


WINNOW_K = 4  # tokens per gram
WINNOW_W = 4  # winnowing window (consecutive grams per selection window)


def winnowing_selected_builder(spark: SparkSession, sf_dir: str):
    """(toked, sel) builder frames for text_winnowing_fingerprint —
    module-level so tests/test_plan_shapes.py asserts window
    partitioning on the EXACT frame the query pins, not a
    re-implementation that could drift (ADVICE r12). `sel` is returned
    UN-pinned; the query adds the pin."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = d.select("doc_id", T.tokens(F.col("text")).alias("t"))
    n_grams = F.greatest(F.lit(0), F.size("t") - F.lit(WINNOW_K - 1))
    grams = toked.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.md5(
                    F.concat_ws(chr(31), F.slice(F.col("t"), i, WINNOW_K))
                ),
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    w = W.Window.partitionBy("doc_id").orderBy("pos")
    wall = W.Window.partitionBy("doc_id")
    h = F.col("h")
    l1, l2, l3 = (F.lag("h", k).over(w) for k in (1, 2, 3))
    r1, r2, r3 = (F.lead("h", k).over(w) for k in (1, 2, 3))

    def one(c):
        return F.when(c, 1).otherwise(0)

    a = (
        one(l1 > h)
        + one((l1 > h) & (l2 > h))
        + one((l1 > h) & (l2 > h) & (l3 > h))
    )
    b = (
        one(r1 >= h)
        + one((r1 >= h) & (r2 >= h))
        + one((r1 >= h) & (r2 >= h) & (r3 >= h))
    )
    nb = grams.select(
        "doc_id",
        "pos",
        "h",
        F.count(F.lit(1)).over(wall).alias("ng"),
        a.alias("a"),
        b.alias("b"),
    )
    sel = nb.filter(
        F.least(F.col("a"), F.col("pos") - 1)
        + F.least(F.col("b"), F.col("ng") - F.col("pos"))
        >= WINNOW_W - 1
    ).select("doc_id", "pos", "h")
    return toked, sel


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(1, greatest(0, len(t) - {WINNOW_K - 1}) + 1)) AS pos,
               unnest(list_transform(
                   range(1, greatest(0, len(t) - {WINNOW_K - 1}) + 1),
                   i -> md5(array_to_string(t[i:i + {WINNOW_K - 1}], chr(31)))))
                   AS h
        FROM toks
    ),
    nb AS (
        SELECT doc_id, pos, h,
               count(*) OVER (PARTITION BY doc_id) AS ng,
               lag(h, 1) OVER w AS l1, lag(h, 2) OVER w AS l2,
               lag(h, 3) OVER w AS l3,
               lead(h, 1) OVER w AS r1, lead(h, 2) OVER w AS r2,
               lead(h, 3) OVER w AS r3
        FROM grams WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sel AS (
        SELECT doc_id, pos, h FROM (
            SELECT doc_id, pos, h, ng,
                   (CASE WHEN l1 > h THEN 1 ELSE 0 END
                    + CASE WHEN l1 > h AND l2 > h THEN 1 ELSE 0 END
                    + CASE WHEN l1 > h AND l2 > h AND l3 > h
                           THEN 1 ELSE 0 END) AS a,
                   (CASE WHEN r1 >= h THEN 1 ELSE 0 END
                    + CASE WHEN r1 >= h AND r2 >= h THEN 1 ELSE 0 END
                    + CASE WHEN r1 >= h AND r2 >= h AND r3 >= h
                           THEN 1 ELSE 0 END) AS b
            FROM nb
        )
        WHERE least(a, pos - 1) + least(b, ng - pos) >= {WINNOW_W - 1}
    ),
    sh AS (
        SELECT h FROM sel GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT s.doc_id, count(*) AS n_fp,
               sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END) AS n_sh
        FROM sel s LEFT JOIN sh ON s.h = sh.h
        GROUP BY s.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(0, len(t.t) - {WINNOW_K - 1}) AS INT) AS n_grams,
           CAST(coalesce(p.n_fp, 0) AS INT) AS n_fingerprints,
           CAST(coalesce(p.n_sh, 0) AS INT) AS n_shared,
           round(CAST(coalesce(p.n_sh, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_fp, 0), 1), 6) AS share_ratio
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
    tags=("llm", "text", "dedup"),
    bench=True,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token 4-gram, slide a
    w=4 window over the hash sequence, and select each window's
    LEFTMOST MINIMUM — the selection guarantees at least one
    fingerprint per w consecutive grams while staying position-robust
    (an insertion far away cannot change which grams win locally,
    unlike every-k-th sampling). A position q wins some window iff its
    run of strictly-greater predecessors plus its run of >= successors
    (each clipped to the document edge) covers w-1 — six lag/lead
    columns make that a per-row boolean, no per-window explode.
    Fingerprints shared across >=2 documents give the per-doc overlap
    ratio MOSS reports.

    Hashes are md5 hex STRINGS ordered lexicographically — bit-identical
    in both engines, unlike xxhash64 (Spark-only) or DuckDB's hash().
    Scale: one corpus explode (linear), per-doc windows (partitioned by
    doc_id — bounded), one vocabulary-sized groupBy for sharing, one
    gram-keyed equi-join back. The corpus never crosses one task."""
    toked, sel = winnowing_selected_builder(spark, sf_dir)
    sel = pin(sel)  # shared-hash agg + per-doc join (scan-leaf lint)
    n_grams = F.greatest(F.lit(0), F.size("t") - F.lit(WINNOW_K - 1))
    sh = (
        sel.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("shared"))
    )
    per_doc = (
        sel.join(sh, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.when(F.col("shared"), 1).otherwise(0)).alias("n_sh"),
        )
    )
    return (
        toked.select("doc_id", n_grams.cast("int").alias("n_grams"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("int").alias("n_fingerprints"),
            F.coalesce(F.col("n_sh"), F.lit(0)).cast("int").alias("n_shared"),
            F.round(
                F.coalesce(F.col("n_sh"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("n_fp"), F.lit(0)), F.lit(1)),
                6,
            ).alias("share_ratio"),
        )
        .orderBy("doc_id")
    )


# C4-style blocklist gate (Raffel et al. 2020 filtered pages containing
# any "List of Dirty, Naughty …" word; the list here is a deterministic
# STAND-IN drawn from the synthetic vocabulary — the machinery, not the
# lexicon, is the operator).
BLOCKLIST = ("slow", "spill", "skew", "stale")
BLOCK_MAX_RATIO = 0.02  # gate: > 2% blocklisted tokens


@query(
    "text_blocklist_gate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, len(t) AS n_tokens,
               len(list_filter(t, x -> lower(x) IN
                   ({", ".join(f"'{w}'" for w in BLOCKLIST)}))) AS n_bad
        FROM tok
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN CAST(n_bad AS DOUBLE) / greatest(n_tokens, 1)
                              > {BLOCK_MAX_RATIO!r}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(sum(n_bad) AS BIGINT) AS total_bad,
           round(CAST(sum(CAST(CAST(n_bad AS DOUBLE) / greatest(n_tokens, 1)
                               AS DECIMAL(38,18))) AS DOUBLE) / count(*), 9)
               AS mean_bad_ratio
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text", "curation"),
)
def text_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist (badword) filtering — the C4 cleanup rule (Raffel et
    al. 2020, §2.2): a document is dropped when its blocklisted-token
    ratio exceeds the gate. Emits the per-source moderation ledger
    (docs, blocked, total hits, mean ratio) a curation run publishes.

    The blocklist is a broadcast literal IN-set folded into the token
    filter — at 100 TB this is a pure scan-speed map (one corpus pass,
    no shuffle beyond the ~20-row source rollup); a real lexicon of a
    few thousand terms would ride the same plan as a broadcast join or
    an Aho-Corasick-compiled regex, still map-side. Ratios accumulate
    as exact decimals so partition order cannot move the mean."""
    d = load_table(spark, sf_dir, "documents")
    t = T.tokens(F.col("text"))
    bad = F.size(
        F.filter(t, lambda x: F.lower(x).isin(*BLOCKLIST))
    )
    scored = d.select(
        "source",
        F.size(t).alias("n_tokens"),
        bad.alias("n_bad"),
    ).select(
        "source",
        "n_bad",
        (F.col("n_bad").cast("double") / F.greatest("n_tokens", F.lit(1))).alias(
            "ratio"
        ),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("ratio") > BLOCK_MAX_RATIO, 1).otherwise(0))
            .cast("bigint")
            .alias("n_blocked"),
            F.sum("n_bad").cast("bigint").alias("total_bad"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_bad_ratio"),
        )
        .orderBy("source")
    )


GT_MAX_C = 10  # report Good-Turing adjustments for counts 1..GT_MAX_C


@query(
    "text_good_turing_smoothing",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_VOCAB_TOK}) AS tok FROM documents
    ),
    tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    fof AS (SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM tf GROUP BY c),
    tot AS (
        SELECT CAST(sum(c * n_c) AS BIGINT) AS n_tokens,
               CAST(sum(n_c) AS BIGINT) AS v_types
        FROM fof
    )
    SELECT f.c, f.n_c,
           round(CAST((f.c + 1) * COALESCE(f2.n_c, 0) AS DOUBLE) / f.n_c, 9)
               AS c_star,
           round(CAST(f.n_c * f.c AS DOUBLE) / t.n_tokens, 9) AS raw_mass,
           round(CAST((f.c + 1) * COALESCE(f2.n_c, 0) AS DOUBLE)
                 / t.n_tokens, 9) AS gt_mass
    FROM fof f
    LEFT JOIN fof f2 ON f2.c = f.c + 1
    CROSS JOIN tot t
    WHERE f.c <= {GT_MAX_C}
    ORDER BY f.c
    """,
    tags=("llm", "text", "smoothing"),
)
def text_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus vocabulary — the
    classical estimate behind unseen-mass / coverage analysis when
    sizing a tokenizer or judging how much of a held-out domain a
    corpus can explain: types seen c times get adjusted count
    c* = (c+1)·N_(c+1)/N_c, and the total probability mass reassigned
    to UNSEEN types is N_1/N (the c=1 row's raw mass). Reported for
    c = 1..{GT_MAX_C}: the frequency-of-frequencies N_c, the adjusted
    count c*, the raw mass c·N_c/N, and the GT-smoothed mass
    (c+1)·N_(c+1)/N.

    100 TB shape: token counts are one map-side-combinable aggregate;
    the frequency-of-frequencies table is a second tiny aggregate over
    it; the c -> c+1 successor is a self-join on that bounded table
    (never a global-order window); totals fold in via one broadcast
    1-row frame."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # scan-once: the bounded frequency-of-frequencies table feeds the
    # c<=cap filter, the successor self-join side, and the totals —
    # pinned so the corpus token explode runs once, not per consumer
    fof = pin(
        tf.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
    )
    tot = fof.agg(
        F.sum(F.col("c") * F.col("n_c")).cast("bigint").alias("n_tokens")
    )
    nxt = fof.select((F.col("c") - 1).alias("c"), F.col("n_c").alias("n_c1"))
    gt_num = ((F.col("c") + 1) * F.coalesce("n_c1", F.lit(0))).cast("double")
    return (
        fof.filter(F.col("c") <= GT_MAX_C)
        .join(nxt, "c", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            "n_c",
            F.round(gt_num / F.col("n_c"), 9).alias("c_star"),
            F.round(
                (F.col("n_c") * F.col("c")).cast("double") / F.col("n_tokens"), 9
            ).alias("raw_mass"),
            F.round(gt_num / F.col("n_tokens"), 9).alias("gt_mass"),
        )
        .orderBy("c")
    )
