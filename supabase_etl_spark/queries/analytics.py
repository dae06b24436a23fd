"""Time-series / product-analytics / graph depth queries over ``events``
and the star schema: retention cohorts, trailing-window anomaly
detection, gap interpolation, weighted PageRank, and blocked fuzzy
matching.

These extend SURVEY.md §2.2's "event analytics" block with the shapes a
100 TB event warehouse actually runs. Determinism discipline as
everywhere: window frames carry explicit (ts, event_id) tie-breaks,
trailing means/variances accumulate in decimal (DuckDB's segment-tree
sliding-window summation would otherwise disagree with Spark's running
order), and iterative ranks re-aggregate through decimal each round.

Scale notes (100 TB read):
  * retention — two shuffles (per-user min, cohort rollup), both keyed
    on high-cardinality columns; no window over the full corpus.
  * zscore — one window per user stream; state is O(frame) per row.
  * interpolate — two IGNORE-NULLS window passes, no self-join.
  * pagerank — driver loops over PLANS (5 bounded iterations); each
    iteration is one equi-join + one keyed agg, the Pregel shape.
  * fuzzy join — levenshtein runs only inside name-prefix blocks, so
    the candidate space is Σ(block²) not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.operators.joins import broadcast_bounded
from supabase_etl_spark.pinning import fixpoint, pin
from supabase_etl_spark.queries import query
from supabase_etl_spark.queries._helpers import dsum, sql_dsum

ZSCORE_FRAME = 20  # trailing events per user
ZSCORE_MIN_N = 10
ZSCORE_CUTOFF = 2.5
PR_DAMPING = 0.85
PR_ITERATIONS = 5


@query(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    actives AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT)
               AS week_offset,
           count(*) AS n_users
    FROM firsts f JOIN actives a USING (user_id)
    GROUP BY f.cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    tags=("events", "analytics"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in every week they return. Two keyed aggregations (per-user
    min, then the cohort matrix) — no window over the corpus, so the
    shape is shuffle-bound on user_id and scales with users, not
    events."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    actives = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        firsts.join(actives, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "events_zscore_anomaly",
    oracle=f"""
    WITH vdecs AS (
        SELECT user_id, event_id, ts, value,
               CAST(value AS DECIMAL(18,6)) AS vdec
        FROM events
    ),
    stats AS (
        SELECT user_id, event_id, ts, value,
               count(value) OVER w AS n,
               CAST(SUM(vdec) OVER w AS DOUBLE) AS sx,
               CAST(SUM(vdec * vdec) OVER w AS DOUBLE) AS sxx
        FROM vdecs
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {ZSCORE_FRAME} PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
        SELECT user_id, event_id, ts, value,
               (value - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) AS z
        FROM stats
        WHERE n >= {ZSCORE_MIN_N}
          AND sxx / n - (sx / n) * (sx / n) > 1e-12
    )
    SELECT user_id, event_id, ts, value, z
    FROM scored
    WHERE abs(z) > {ZSCORE_CUTOFF}
    ORDER BY user_id, event_id
    """,
    tags=("events", "analytics", "window"),
)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each event is scored against
    the mean/std of its user's previous 20 events and flagged beyond
    |z| > 2.5. The moment sums run through decimal inside the window
    frame — Spark's running summation and DuckDB's segment-tree
    sliding-window summation add doubles in different orders, and
    decimal is how the same window hashes identically from both. One
    window pass, state bounded by the frame."""
    e = load_table(spark, sf_dir, "events").withColumn(
        # decimal FIRST, square SECOND: squaring in double and then
        # casting the product to decimal rounds long binary expansions,
        # where Spark and DuckDB disagree in the last ulp; the decimal
        # product of decimal inputs is exact in both
        "vdec",
        F.col("value").cast("decimal(18,6)"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_FRAME, -1)
    )
    n = F.count("value").over(w)
    sx = F.sum("vdec").over(w).cast("double")
    sxx = F.sum(F.col("vdec") * F.col("vdec")).over(w).cast("double")
    stats = e.select("user_id", "event_id", "ts", "value", n.alias("n"),
                     sx.alias("sx"), sxx.alias("sxx"))
    mean = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - mean * mean
    scored = stats.filter(
        (F.col("n") >= ZSCORE_MIN_N) & (var > 1e-12)
    ).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        ((F.col("value") - mean) / F.sqrt(var)).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) > ZSCORE_CUTOFF).orderBy(
        "user_id", "event_id"
    )


@query(
    "events_interpolate",
    oracle="""
    WITH planted AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    ctx AS (
        SELECT user_id, event_id, ts, v,
               last_value(v IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END
                   IGNORE NULLS) OVER wp AS prev_t,
               first_value(v IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END
                   IGNORE NULLS) OVER wn AS next_t
        FROM planted
        WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wn AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, ts,
           CASE
               WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE prev_v + (next_v - prev_v)
                    * (CAST(epoch_us(ts) - prev_t AS DOUBLE)
                       / CAST(next_t - prev_t AS DOUBLE))
           END AS filled,
           (v IS NULL) AS was_missing
    FROM ctx
    ORDER BY user_id, event_id
    """,
    tags=("events", "analytics", "window"),
)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on a time series: every 5th event's
    value is planted missing, then filled from the nearest non-null
    neighbors weighted by time distance (edges take the available
    side). Two IGNORE-NULLS window passes — no self-join, no explode —
    the standard 100 TB resampling shape. The time fraction divides
    identical int64 microsecond deltas in both engines, so the filled
    doubles hash identically."""
    e = load_table(spark, sf_dir, "events")
    planted = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    t_us = F.unix_micros(F.col("ts"))
    t_nn = F.when(F.col("v").isNotNull(), t_us)
    ctx = planted.select(
        "user_id",
        "event_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(t_nn, ignorenulls=True).over(wp).alias("prev_t"),
        F.first("v", ignorenulls=True).over(wn).alias("next_v"),
        F.first(t_nn, ignorenulls=True).over(wn).alias("next_t"),
    )
    frac = (t_us - F.col("prev_t")).cast("double") / (
        F.col("next_t") - F.col("prev_t")
    ).cast("double")
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac)
    )
    return ctx.select(
        "user_id",
        "event_id",
        "ts",
        filled.alias("filled"),
        F.col("v").isNull().alias("was_missing"),
    ).orderBy("user_id", "event_id")


def _pr_oracle() -> str:
    """Unrolled 5-iteration weighted PageRank in DuckDB SQL (mirrors the
    Spark driver loop exactly, including the decimal re-aggregation)."""
    it = """
    mass{n} AS (
        SELECT e.dst AS v,
               list_reduce(list(e.w_frac * r.rank ORDER BY e.src),
                           (acc, x) -> acc + x) AS mass
        FROM edges e JOIN it{p} r ON r.v = e.src
        GROUP BY e.dst
    ),
    it{n} AS (
        -- CAST({d} AS DOUBLE): a bare 0.85 literal is DECIMAL in
        -- DuckDB, making (1 - 0.85) exactly 0.15 where IEEE doubles
        -- give 0.15000000000000002 — a last-ulp divergence per round
        SELECT nodes.v,
               (1 - CAST({d} AS DOUBLE)) / nn.n
               + CAST({d} AS DOUBLE) * COALESCE(m.mass, 0.0) AS rank
        FROM nodes CROSS JOIN nn LEFT JOIN mass{n} m ON m.v = nodes.v
    )"""
    its = ",".join(
        it.format(n=i, p=i - 1, d=PR_DAMPING) for i in range(1, PR_ITERATIONS + 1)
    )
    return f"""
    WITH raw_edges AS (
        SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY src, dst
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS total FROM raw_edges GROUP BY src),
    edges AS (
        SELECT e.src, e.dst,
               CAST(e.w AS DOUBLE) / CAST(o.total AS DOUBLE) AS w_frac
        FROM raw_edges e JOIN outw o ON e.src = o.src
    ),
    nodes AS (SELECT n_name AS v FROM nation),
    nn AS (SELECT count(*) AS n FROM nodes),
    it0 AS (SELECT v, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    {its}
    SELECT v AS nation, rank
    FROM it{PR_ITERATIONS}
    ORDER BY rank DESC, nation
    """


@query(
    "graph_pagerank",
    oracle=_pr_oracle(),
    tags=("graph", "analytics", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (supplier nation →
    customer nation, edge weight = lineitem count), 5 Lloyd-style
    iterations at damping 0.85. The driver loops over PLANS — each
    iteration is one equi-join plus one keyed aggregation (the
    Pregel/GraphX shape; at 100 TB nodes/edges shuffle on their keys
    and nothing collects). Per-node contribution sums fold in canonical
    src order (array_sort + left-to-right aggregate ≡ DuckDB's
    list(ORDER BY src) + list_reduce) so both engines execute the same
    IEEE addition sequence and stay bit-identical through all 5
    iterations; the oracle unrolls the same recurrence as CTEs.
    Dangling-node mass is dropped identically on both sides (no
    redistribution)."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
        )
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    c = F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = pin(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, s.s_nationkey == n1.s_nk)
        .join(n2, c.c_nationkey == n2.c_nk)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        # bounded (≤ nation² rows) and consumed twice INSIDE the edges
        # pin's builder (directly + via outw) — without this inner pin
        # the 5-table star join runs twice per edges materialization
        # (pin-interior lint, r13)
    )
    outw = raw.groupBy(F.col("src").alias("o_src")).agg(
        F.sum("w").cast("bigint").alias("total")
    )
    edges = pin(  # 625-row edge table; truncate the star-join lineage
        raw.join(outw, raw.src == outw.o_src)
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("total").cast("double")).alias("w_frac"),
        ),
        eager=True,
    )
    nodes = pin(load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("v")
    ))  # consumed every iteration (scan-leaf lint)
    n_nodes = nodes.count()
    ranks = nodes.select("v", (F.lit(1.0) / n_nodes).alias("rank"))
    for _ in range(PR_ITERATIONS):
        contribs = edges.join(ranks, edges.src == ranks.v).select(
            F.col("dst"),
            F.struct(F.col("src"), (F.col("w_frac") * F.col("rank")).alias("c")).alias(
                "sc"
            ),
        )
        # canonical-order fold: incoming contributions sort by src and
        # add left-to-right — the identical IEEE sequence DuckDB's
        # list(... ORDER BY src) + list_reduce performs. A plain SUM of
        # doubles would be partition-order-dependent in Spark and
        # tree-shaped in DuckDB; a decimal cast of the product would
        # round its long binary expansion differently per engine.
        incoming = (
            contribs.groupBy(F.col("dst").alias("v"))
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list("sc")), lambda s: s.c
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("mass")
            )
        )
        ranks = nodes.join(incoming, "v", "left_outer").select(
            "v",
            (
                F.lit((1 - PR_DAMPING) / n_nodes)
                + F.lit(PR_DAMPING) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(F.col("v").alias("nation"), "rank").orderBy(
        F.col("rank").desc(), "nation"
    )


@query(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH corrupted AS (
        SELECT c_custkey AS dirty_key,
               substr(c_name, 1, length(c_name) - 1) || 'X' AS dirty_name,
               substr(c_name, 1, length(c_name) - 2) AS block
        FROM customer WHERE c_custkey % 20 = 0
    ),
    originals AS (
        SELECT c_custkey AS clean_key, c_name AS clean_name,
               substr(c_name, 1, length(c_name) - 2) AS block
        FROM customer
    )
    SELECT d.dirty_key, o.clean_key, d.dirty_name, o.clean_name,
           levenshtein(d.dirty_name, o.clean_name) AS dist
    FROM corrupted d JOIN originals o ON d.block = o.block
    WHERE levenshtein(d.dirty_name, o.clean_name) <= 1
    ORDER BY d.dirty_key, o.clean_key
    """,
    tags=("join", "fuzzy", "analytics"),
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity resolution): every 20th customer
    name is corrupted in its last character, then its candidate set
    (every clean name within edit distance 1 — the true original plus
    its near-id siblings; downstream resolution would disambiguate) is
    recovered — but ONLY inside a name-prefix block, so levenshtein
    runs on Σ(block²) candidate pairs instead of n². The block key is
    an equi-join column, which is the entire reason this scales: the
    expensive comparison never sees a cross join."""
    cust = load_table(spark, sf_dir, "customer")
    block = F.expr("substr(c_name, 1, length(c_name) - 2)")
    corrupted = cust.filter(F.col("c_custkey") % 20 == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
        ).alias("dirty_name"),
        block.alias("block"),
    )
    originals = cust.select(
        F.col("c_custkey").alias("clean_key"),
        F.col("c_name").alias("clean_name"),
        block.alias("block"),
    )
    dist = F.levenshtein(F.col("dirty_name"), F.col("clean_name"))
    return (
        corrupted.join(originals, "block")
        .filter(dist <= 1)
        .select("dirty_key", "clean_key", "dirty_name", "clean_name", dist.alias("dist"))
        .orderBy("dirty_key", "clean_key")
    )


@query(
    "scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_id, ts AS valid_from, event_type
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) IS NULL)
               AS is_current
    FROM changes
    ORDER BY user_id, valid_from, event_id
    """,
    tags=("events", "analytics", "cdc"),
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event stream:
    change points (rows whose event_type differs from the user's
    previous event) become validity intervals [valid_from, valid_to)
    with an is_current flag — the CDC-to-warehouse reshape the
    reference's upsert sink implies but never materializes. Two window
    passes (lag for change detection, lead for interval close), both
    on the same (user_id, ts) ordering, so one shuffle serves both."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_id", F.col("ts").alias("valid_from"), "event_type")
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    valid_to = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id")


@query(
    "merge_cdc_upsert",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    changes AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 12 = 0 THEN 'D' ELSE 'U' END AS op,
               'U1' AS o_orderstatus, o_totalprice * 1.05 AS o_totalprice,
               1 AS seq
        FROM orders WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT o_orderkey, 'U' AS op,
               'U2' AS o_orderstatus, o_totalprice * 0.9 AS o_totalprice,
               2 AS seq
        FROM orders WHERE o_orderkey % 8 = 0
    ),
    latest AS (
        SELECT o_orderkey, op, o_orderstatus, o_totalprice
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                           ORDER BY seq DESC) AS rn
              FROM changes)
        WHERE rn = 1
    )
    SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
           COALESCE(l.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(l.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN l.o_orderkey IS NULL THEN 'kept'
                WHEN b.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b
    FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey
    WHERE l.op IS NULL OR l.op <> 'D'
    ORDER BY o_orderkey
    """,
    tags=("cdc", "join"),
    scans=(
        "CDC batch c1 is a filter-disjoint scan of the fixture table (in production a distinct change feed)",
        "CDC batch c2 likewise — base snapshot + two change batches = three pruned scans by design",
    ),
)
def merge_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD type 1, latest-wins) as a distributed
    batch op: a CDC change feed (insert/update/delete rows with a
    sequence number) applied onto a base table. This is the
    at-scale counterpart of the reference's row-by-row
    `ON CONFLICT (...) DO UPDATE` sink (etl_supabase.py:71-85): dedupe
    the feed to the latest change per key (one shuffle), then one
    co-partitioned full-outer join against the base — both exchanges
    hash on the merge key, so AQE can coalesce and there is no
    broadcast-size cliff when the change feed is large. Deletes drop,
    missing keys insert, matches take the change row's values."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    c1 = o.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 12 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit("U1").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("o_totalprice"),
        F.lit(1).alias("seq"),
    )
    c2 = o.filter(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit("U2").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(0.9)).alias("o_totalprice"),
        F.lit(2).alias("seq"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    latest = (
        c1.unionByName(c2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_orderkey").alias("l_key"),
            "op",
            F.col("o_orderstatus").alias("l_status"),
            F.col("o_totalprice").alias("l_price"),
        )
    )
    merged = base.join(latest, base["o_orderkey"] == latest["l_key"], "full_outer")
    return (
        merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce(base["o_orderkey"], F.col("l_key")).alias("o_orderkey"),
            F.coalesce(F.col("l_status"), base["o_orderstatus"]).alias("o_orderstatus"),
            F.coalesce(F.col("l_price"), base["o_totalprice"]).alias("o_totalprice"),
            F.when(F.col("l_key").isNull(), F.lit("kept"))
            .when(base["o_orderkey"].isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("merge_action"),
        )
        .orderBy("o_orderkey")
    )


RESERVOIR_K = 5


@query(
    "sample_reservoir_per_group",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, lang,
               {{bucket}} AS h
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        FROM hashed
    )
    SELECT lang, rk, doc_id
    FROM ranked WHERE rk <= {RESERVOIR_K}
    ORDER BY lang, rk
    """.format(
        bucket="(((1103515245 * CAST(doc_id AS BIGINT) + 12345) % 2147483647))"
    ),
    tags=("llm", "sampling", "analytics"),
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir sample: k=5 documents per
    language, chosen by ranking on an LCG hash of doc_id — the
    reproducible equivalent of reservoir sampling (same sample on every
    re-run and engine, unlike rand()-based reservoirs which depend on
    partition layout). One window per group; at 100 TB the rank-k
    filter pushes into a partial top-k per partition before the
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    h = (F.lit(1103515245).cast("bigint") * F.col("doc_id").cast("bigint") + 12345) % F.lit(
        2147483647
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        d.select("doc_id", "lang", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("lang", "rk", "doc_id")
        .orderBy("lang", "rk")
    )


@query(
    "events_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch,
               first_value(CASE WHEN event_type IN ('view', 'click')
                                THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS first_touch
        FROM events
    ),
    purchases AS (
        SELECT COALESCE(last_touch, 'direct') AS last_touch,
               COALESCE(first_touch, 'direct') AS first_touch,
               value
        FROM ordered WHERE event_type = 'purchase'
    )
    SELECT model, channel, count(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS attributed_value
    FROM (
        SELECT 'last_touch' AS model, last_touch AS channel, value FROM purchases
        UNION ALL
        SELECT 'first_touch' AS model, first_touch AS channel, value FROM purchases
    )
    GROUP BY model, channel
    ORDER BY model, channel
    """,
    tags=("events", "analytics"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase's value credited to the
    user's first / most recent preceding touch channel (view or click;
    'direct' when none). One window pass per user stream computes both
    models — frame ends at 1 PRECEDING so a purchase never attributes
    to itself, IGNORE NULLS skips non-touch events in place (no
    self-join, no sessionize pass). At 100 TB this is a single shuffle
    on user_id; the rollup after is two tiny keyed aggs."""
    e = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = e.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    purchases = ordered.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("direct")).alias("last_touch"),
        F.coalesce("first_touch", F.lit("direct")).alias("first_touch"),
        "value",
    )
    both = purchases.select(
        F.lit("last_touch").alias("model"),
        F.col("last_touch").alias("channel"),
        "value",
    ).unionByName(
        purchases.select(
            F.lit("first_touch").alias("model"),
            F.col("first_touch").alias("channel"),
            "value",
        )
    )
    return (
        both.groupBy("model", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
                "attributed_value"
            ),
        )
        .orderBy("model", "channel")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM trans
    ORDER BY from_type, to_type
    """,
    tags=("events", "analytics"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next_type | type) estimated from adjacent-pair counts.
    The product-analytics 'where do users go next' primitive (and the
    generative model behind session simulation). One lead() window per
    user stream, one count shuffle on the (from, to) pair — 25 output
    rows regardless of corpus size, so at 100 TB the reduction is all
    map-side. Probabilities divide exact integer counts (deterministic
    across engines); round(6) pins the double formatting."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wsum = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wsum), 6).alias("p"),
    ).orderBy("from_type", "to_type")


EWMA_ALPHA = 0.2  # smoothing factor; weight (1-α)^age over a 20-row frame
EWMA_FRAME = 20


@query(
    "events_ewma",
    oracle=f"""
    WITH framed AS (
        SELECT user_id, event_id, ts, value,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN {EWMA_FRAME - 1} PRECEDING
                                          AND CURRENT ROW) AS vals
        FROM events
    )
    SELECT user_id, event_id, ts, value,
           round(
               list_reduce(list_transform(vals,
                   (x, i) -> x * pow({1 - EWMA_ALPHA}, len(vals) - i)),
                   (a, b) -> a + b)
               / list_reduce(list_transform(vals,
                   (x, i) -> pow({1 - EWMA_ALPHA}, len(vals) - i)),
                   (a, b) -> a + b),
               6) AS ewma
    FROM framed
    ORDER BY user_id, event_id
    """,
    tags=("events", "analytics", "window"),
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user stream — the
    trend-smoothing primitive behind monitoring baselines and feature
    engineering. True EWMA is a recursion no window frame expresses;
    the standard production form is the BOUNDED-window restatement
    (weights (1-α)^age over the last 20 rows — the dropped tail weight
    is (1-α)^20 ≈ 1%) which IS expressible: collect the frame, weight
    each element by recency with an indexed transform, fold. All
    array-local per-row compute after one window shuffle on user_id;
    the identical left-to-right fold replays in DuckDB's
    list_transform/list_reduce, so the doubles hash-match without
    decimal laundering."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_FRAME - 1), 0)
    )
    framed = e.select(
        "user_id", "event_id", "ts", "value",
        F.collect_list("value").over(w).alias("vals"),
    )
    n = F.size("vals")
    idx = F.sequence(F.lit(1), n)
    weights = F.transform(idx, lambda i: F.pow(F.lit(1 - EWMA_ALPHA), n - i))
    num = F.aggregate(
        F.zip_with(F.col("vals"), weights, lambda x, wgt: x * wgt),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    den = F.aggregate(weights, F.lit(0.0), lambda a, b: a + b)
    return framed.select(
        "user_id", "event_id", "ts", "value",
        F.round(num / den, 6).alias("ewma"),
    ).orderBy("user_id", "event_id")


@query(
    "events_ohlc_bars",
    oracle="""
    WITH keyed AS (
        SELECT event_type,
               CAST(ts AS DATE) AS bar_date,
               value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
        FROM events
    )
    SELECT event_type, bar_date,
           arg_min(value, ord_key) AS open,
           max(value)              AS high,
           min(value)              AS low,
           arg_max(value, ord_key) AS close,
           count(*)                AS n_ticks
    FROM keyed
    GROUP BY event_type, bar_date
    ORDER BY event_type, bar_date
    """,
    tags=("events", "analytics", "finance"),
    bench=True,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event_type — the reference domain's core
    downsample (vnstock price history → daily candles). One hash
    aggregate: open/close are max_by/min_by on a zero-padded
    (epoch-micros, event_id) string key (total order, so the answer is
    unique), high/low are plain min/max, all with map-side partials —
    no window, no sort, one shuffle of k·days groups at any scale.
    The values are picked (not summed), so doubles hash exactly."""
    e = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    keyed = e.select(
        "event_type",
        F.col("ts").cast("date").alias("bar_date"),
        "value",
        ord_key.alias("ord_key"),
    )
    return (
        keyed.groupBy("event_type", "bar_date")
        .agg(
            F.min_by("value", F.col("ord_key")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ord_key")).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("event_type", "bar_date")
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM tri) AS n_triangles,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM
               (SELECT u AS x FROM edges UNION SELECT v FROM edges)) AS n_nodes
    """,
    tags=("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts sharing
    an order are connected): the canonical E⋈E⋈E pattern. Edges are
    oriented u<v so each triangle is produced exactly once (a<b<c) —
    no post-hoc /6 division, no duplicate pairs. Two self-joins on a
    deduplicated edge list: at scale this is the standard
    node-iterator-in-SQL shape whose cost is Σ deg(v)², controlled the
    same way as every pair stage here (bound the per-order part count
    upstream, salt if a hub node appears). GraphX/GraphFrames do the
    same joins under a different API."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = pin(
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # multi-consumer edge list: pin once (scan-leaf lint) — without
        # it the basket self-join re-runs per consumer
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
    )
    nodes = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .distinct()
    )
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    )


@query(
    "events_rfm_scores",
    oracle=f"""
    WITH base AS (
        SELECT user_id,
               date_diff('day', CAST(max(ts) AS DATE),
                         (SELECT CAST(max(ts) AS DATE) FROM events)) AS recency_days,
               count(*) AS frequency,
               {sql_dsum("value", "monetary")}
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           NTILE(5) OVER (ORDER BY recency_days ASC, user_id ASC)  AS r_score,
           NTILE(5) OVER (ORDER BY frequency   DESC, user_id ASC) AS f_score,
           NTILE(5) OVER (ORDER BY monetary    DESC, user_id ASC) AS m_score
    FROM base
    ORDER BY user_id
    """,
    tags=("events", "analytics"),
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) —
    the classic customer-value rollup. One per-user hash aggregate,
    then three DISTRIBUTED quintile assignments over the user-level
    table: each is a range-partitioned exact rank
    (operators.prefix.distributed_rank) fed through the all-integer
    NTILE formula — bit-equal to the oracle's global NTILE(5) windows
    without dragging the user table (billions of rows at 100 TB)
    through one task. Deterministic user_id tie-breaks keep quintile
    edges engine-identical. The corpus max-date anchor is a broadcast
    1-row aggregate, not a driver round-trip."""
    from supabase_etl_spark.operators.prefix import distributed_rank, ntile_from_rank

    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.col("ts").cast("date")).alias("anchor"))
    base = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(F.col("value"), "monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("anchor"), F.col("last_day")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    n1 = base.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    ranked = distributed_rank(
        base, [F.col("recency_days").asc(), F.col("user_id").asc()], out="__r_rn"
    )
    ranked = distributed_rank(
        ranked, [F.col("frequency").desc(), F.col("user_id").asc()], out="__f_rn"
    )
    ranked = distributed_rank(
        ranked, [F.col("monetary").desc(), F.col("user_id").asc()], out="__m_rn"
    )
    return (
        ranked.crossJoin(F.broadcast(n1))
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            ntile_from_rank(F.col("__r_rn"), F.col("__n"), 5).alias("r_score"),
            ntile_from_rank(F.col("__f_rn"), F.col("__n"), 5).alias("f_score"),
            ntile_from_rank(F.col("__m_rn"), F.col("__n"), 5).alias("m_score"),
        )
        .orderBy("user_id")
    )


FUNNEL_WINDOW_DAYS = 7


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH views AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    clicks AS (
        SELECT v.user_id, min(e.ts) AS t_click
        FROM views v JOIN events e
          ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts > v.t_view
         AND e.ts <= v.t_view + INTERVAL '{FUNNEL_WINDOW_DAYS} days'
        GROUP BY v.user_id
    ),
    purchases AS (
        SELECT c.user_id, min(e.ts) AS t_purchase
        FROM clicks c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts > c.t_click
         AND e.ts <= c.t_click + INTERVAL '{FUNNEL_WINDOW_DAYS} days'
        GROUP BY c.user_id
    )
    SELECT (SELECT count(*) FROM views)     AS n_viewed,
           (SELECT count(*) FROM clicks)    AS n_clicked_within,
           (SELECT count(*) FROM purchases) AS n_purchased_within,
           round((SELECT count(*) FROM purchases)
                 / greatest(1, (SELECT count(*) FROM views)), 6) AS conversion
    """,
    tags=("events", "analytics", "funnel"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: view → click within 7 days → purchase
    within 7 days of the click — the product-analytics funnel with a
    bounded attribution window (the unwindowed variant is
    events_funnel). Each stage is a per-user min-aggregate joined
    forward with a range predicate on the SAME user key, so every join
    co-partitions on user_id and the range condition evaluates inside
    the hash-join row scan — no cross join, no window over the event
    stream; stage tables shrink monotonically."""
    e = load_table(spark, sf_dir, "events")
    views = pin(  # 2 consumers (scan-leaf lint)
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    span = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
    clicks = pin(  # 2 consumers (scan-leaf lint)
        views.join(e.filter(F.col("event_type") == "click"), "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + span))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        clicks.join(e.filter(F.col("event_type") == "purchase"), "user_id")
        .filter((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + span))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        views.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(clicks.agg(F.count(F.lit(1)).alias("n_clicked_within")))
        .crossJoin(purchases.agg(F.count(F.lit(1)).alias("n_purchased_within")))
        .select(
            "n_viewed",
            "n_clicked_within",
            "n_purchased_within",
            F.round(
                F.col("n_purchased_within") / F.greatest(F.lit(1), F.col("n_viewed")), 6
            ).alias("conversion"),
        )
    )


SPAN_MINUTES = 45  # each event opens a 45-minute activity span


@query(
    "events_merge_intervals",
    oracle=f"""
    WITH spans AS (
        SELECT user_id, ts AS s_start,
               ts + INTERVAL '{SPAN_MINUTES} minutes' AS s_end
        FROM events
    ),
    marked AS (
        SELECT user_id, s_start, s_end,
               CASE WHEN s_start <= max(s_end) OVER (
                        PARTITION BY user_id ORDER BY s_start, s_end
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS is_new
        FROM spans
    ),
    grouped AS (
        SELECT user_id, s_start, s_end,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s_start, s_end
                                 ROWS UNBOUNDED PRECEDING) AS grp
        FROM marked
    )
    SELECT user_id, CAST(grp AS BIGINT) AS interval_idx,
           min(s_start) AS merged_start,
           max(s_end) AS merged_end,
           count(*) AS n_spans
    FROM grouped
    GROUP BY user_id, grp
    ORDER BY user_id, interval_idx
    """,
    tags=("events", "analytics", "interval"),
)
def events_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (merge overlapping/touching spans per key) —
    the union step behind validity-window compaction, span splicing
    after repeated-span flagging, and on-call/availability rollups.
    Gaps-and-islands on intervals: a span starts a new island unless it
    overlaps the running max end of its predecessors; running-sum of
    starts numbers the islands; one group-by collapses each island.
    Two window passes + one hash agg over the same (user_id, start)
    sort order — Spark plans a single sort feeding both windows."""
    e = load_table(spark, sf_dir, "events")
    spans = e.select(
        "user_id",
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr(f"INTERVAL {SPAN_MINUTES} MINUTES")).alias("s_end"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_start", "s_end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = spans.select(
        "user_id",
        "s_start",
        "s_end",
        F.when(
            F.col("s_start") <= F.max("s_end").over(w_prev), F.lit(0)
        ).otherwise(F.lit(1)).alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s_start", "s_end")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = marked.withColumn("grp", F.sum("is_new").over(w_run))
    return (
        grouped.groupBy("user_id", F.col("grp").alias("interval_idx"))
        .agg(
            F.min("s_start").alias("merged_start"),
            F.max("s_end").alias("merged_end"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .orderBy("user_id", "interval_idx")
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS t_us,
               value, event_id
        FROM events
    ), wt AS (
        SELECT user_id, day, value,
               coalesce(lead(t_us) OVER (PARTITION BY user_id, day
                                         ORDER BY t_us, event_id),
                        epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
                 - t_us AS w_us
        FROM e
    )
    SELECT user_id, day,
           count(*) AS n_obs,
           round(CAST(SUM(CAST(value * w_us AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(w_us) AS DOUBLE), 6) AS twap
    FROM wt
    GROUP BY user_id, day
    ORDER BY user_id, day
    """,
    tags=("events", "timeseries"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds its value
    until the next observation in the same (user, day) stream; the last
    one holds to midnight. The metric a trading/metering pipeline uses
    where a plain AVG over-weights bursty samplers.

    One window pass (lead over the per-user-day stream, explicit
    (t_us, event_id) tie-break) + one keyed agg — no self-join, state
    is O(1) per row. Weights are exact integer microseconds and the
    value·weight sum accumulates in decimal, so parallel and sequential
    summation agree bit-for-bit. At 100 TB the stream is already
    partitionable by (user_id, day); both the window and the agg reuse
    that one shuffle (same keys), and AQE coalesces the skinny output."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    e = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("t_us"),
        "value",
        "event_id",
    )
    w = Window.partitionBy("user_id", "day").orderBy("t_us", "event_id")
    end_us = F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp"))
    wt = e.select(
        "user_id",
        "day",
        "value",
        (F.coalesce(F.lead("t_us").over(w), end_us) - F.col("t_us")).alias("w_us"),
    )
    return (
        wt.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(
                F.sum((F.col("value") * F.col("w_us")).cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.sum("w_us").cast("double"),
                6,
            ).alias("twap"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "skyline_pareto_front",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, p_size
    FROM part r
    WHERE NOT EXISTS (
        SELECT 1 FROM part s
        WHERE s.p_brand = r.p_brand
          AND s.p_retailprice <= r.p_retailprice
          AND s.p_size >= r.p_size
          AND (s.p_retailprice < r.p_retailprice OR s.p_size > r.p_size)
    )
    ORDER BY p_brand, p_retailprice, p_size, p_partkey
    """,
    tags=("analytics", "skyline"),
)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (pareto front) per brand: the parts for which no
    other part of the same brand is both cheaper-or-equal and
    larger-or-equal with at least one strict — the classic
    price/quality dominance query (Börzsönyi et al., ICDE 2001).

    The oracle states the semantics as the quadratic NOT EXISTS; the
    Spark plan is the sort-based linear formulation: collapse to the
    per-(brand, price) max size (one map-side-combinable agg), take the
    running max of that over strictly-cheaper prices (window over the
    distinct-price table — rows, not the raw corpus), and join back.
    A row is dominated iff a strictly-cheaper price reaches its size
    (m_lt >= size) or an equal-priced row strictly exceeds it
    (pmax > size); duplicates of an undominated point all survive, as
    in the EXISTS form. At 100 TB: no self-join of the corpus, window
    state O(1), and every stage keys on (brand[, price]) so one
    shuffle's partitioning is reused throughout."""
    p = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    per_price = p.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("pmax")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_price = per_price.withColumn("m_lt", F.max("pmax").over(w))
    return (
        p.join(per_price, ["p_brand", "p_retailprice"])
        .filter(
            ~(
                (F.col("m_lt").isNotNull() & (F.col("m_lt") >= F.col("p_size")))
                | (F.col("pmax") > F.col("p_size"))
            )
        )
        .select("p_brand", "p_partkey", "p_retailprice", "p_size")
        .orderBy("p_brand", "p_retailprice", "p_size", "p_partkey")
    )


@query(
    "events_autocorrelation",
    oracle="""
    WITH s AS (
        SELECT user_id, value,
               lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x1,
               lead(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x2,
               CAST(SUM(CAST(value AS DECIMAL(28,6)))
                    OVER (PARTITION BY user_id) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY user_id) AS m
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           round(m, 6) AS mean_value,
           round(CAST(SUM(CAST((value - m) * (x1 - m) AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST((value - m) * (value - m) AS DECIMAL(38,6))) AS DOUBLE),
                 6) AS acf_lag1,
           round(CAST(SUM(CAST((value - m) * (x2 - m) AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST((value - m) * (value - m) AS DECIMAL(38,6))) AS DOUBLE),
                 6) AS acf_lag2
    FROM s
    GROUP BY user_id, m
    ORDER BY user_id
    """,
    tags=("events", "timeseries"),
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1/lag-2 autocorrelation of the value series — the
    time-series diagnostic (is this metric bursty or mean-reverting?)
    a feature platform computes per entity stream.

    Standard ACF estimator: r_k = Σ(x_t−m)(x_{t+k}−m) / Σ(x_t−m)²
    with m the full-series mean. One window pass computes both leads
    AND the per-user mean (decimal-sum based, so parallel order can't
    skew it) — window and final agg share the user_id partitioning, so
    the whole query is one shuffle. SUM(NULL-skipping) drops the k
    tail rows from the numerator exactly as the oracle does."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = Window.partitionBy("user_id")
    m = (
        F.sum(F.col("value").cast("decimal(28,6)")).over(wf).cast("double")
        / F.count(F.lit(1)).over(wf)
    )
    s = ev.select(
        "user_id",
        "value",
        F.lead("value", 1).over(wo).alias("x1"),
        F.lead("value", 2).over(wo).alias("x2"),
        m.alias("m"),
    )
    dev = F.col("value") - F.col("m")
    den = F.sum((dev * dev).cast("decimal(38,6)")).cast("double")
    return (
        s.groupBy("user_id", "m")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum((dev * (F.col("x1") - F.col("m"))).cast("decimal(38,6)")).cast(
                    "double"
                )
                / den,
                6,
            ).alias("acf_lag1"),
            F.round(
                F.sum((dev * (F.col("x2") - F.col("m"))).cast("decimal(38,6)")).cast(
                    "double"
                )
                / den,
                6,
            ).alias("acf_lag2"),
        )
        .select(
            "user_id",
            "n",
            F.round("m", 6).alias("mean_value"),
            "acf_lag1",
            "acf_lag2",
        )
        .orderBy("user_id")
    )


INCR_CUTOVER = "2024-01-25"  # state holds days before; delta arrives after


@query(
    "merge_incremental_agg",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           min(value) AS min_value,
           max(value) AS max_value,
           round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             AS avg_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
    tags=("events", "incremental"),
)
def merge_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a daily aggregate STATE table
    (built from events before the cutover) is updated with a late
    DELTA batch by merging algebraic accumulators — counts and decimal
    sums add, min/max combine, avg re-derives from the merged sums —
    WITHOUT rescanning the historical raw events. The invariant the
    oracle checks: merge(agg(base), agg(delta)) == agg(base ∪ delta),
    which is exactly why a 100 TB warehouse stores (count, sum, min,
    max) state per grain instead of re-aggregating history every
    night. The merge is a full-outer join on the grain keyed the same
    as both inputs' aggs — the only corpus-scan is the delta's."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    cut = F.lit(INCR_CUTOVER).cast("date")

    def daily_state(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    state = daily_state(ev.filter(F.col("day") < cut))
    delta = daily_state(ev.filter(F.col("day") >= cut))

    s, d = state.alias("s"), delta.alias("d")
    merged = s.join(
        d,
        (F.col("s.day") == F.col("d.day"))
        & (F.col("s.event_type") == F.col("d.event_type")),
        "full_outer",
    ).select(
        F.coalesce(F.col("s.day"), F.col("d.day")).alias("day"),
        F.coalesce(F.col("s.event_type"), F.col("d.event_type")).alias("event_type"),
        (
            F.coalesce(F.col("s.n_events"), F.lit(0))
            + F.coalesce(F.col("d.n_events"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("s.sum_dec"), F.lit(0).cast("decimal(28,6)"))
            + F.coalesce(F.col("d.sum_dec"), F.lit(0).cast("decimal(28,6)"))
        ).alias("sum_dec"),
        F.least(F.col("s.min_value"), F.col("d.min_value")).alias("lmin"),
        F.greatest(F.col("s.max_value"), F.col("d.max_value")).alias("lmax"),
        F.coalesce(F.col("s.min_value"), F.col("d.min_value")).alias("cmin"),
        F.coalesce(F.col("s.max_value"), F.col("d.max_value")).alias("cmax"),
    )
    # least/greatest are null-safe-wrong for one-sided grains: coalesce fills
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("total_value"),
        F.coalesce(F.col("lmin"), F.col("cmin")).alias("min_value"),
        F.coalesce(F.col("lmax"), F.col("cmax")).alias("max_value"),
        F.round(F.col("sum_dec").cast("double") / F.col("n_events"), 6).alias(
            "avg_value"
        ),
    ).orderBy("day", "event_type")


LPA_ITERATIONS = 3
LPA_PIN_EVERY = 4  # eager labels pin every k rounds: lineage bounded in rounds


@query(
    "graph_label_propagation",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
    l1 AS (
        SELECT node, lbl FROM (
            SELECT s.u AS node, l.lbl,
                   row_number() OVER (PARTITION BY s.u
                                      ORDER BY count(*) DESC, l.lbl) AS rn
            FROM sym s JOIN l0 l ON s.v = l.node
            GROUP BY s.u, l.lbl
        ) WHERE rn = 1
    ),
    l2 AS (
        SELECT node, lbl FROM (
            SELECT s.u AS node, l.lbl,
                   row_number() OVER (PARTITION BY s.u
                                      ORDER BY count(*) DESC, l.lbl) AS rn
            FROM sym s JOIN l1 l ON s.v = l.node
            GROUP BY s.u, l.lbl
        ) WHERE rn = 1
    ),
    l3 AS (
        SELECT node, lbl FROM (
            SELECT s.u AS node, l.lbl,
                   row_number() OVER (PARTITION BY s.u
                                      ORDER BY count(*) DESC, l.lbl) AS rn
            FROM sym s JOIN l2 l ON s.v = l.node
            GROUP BY s.u, l.lbl
        ) WHERE rn = 1
    )
    SELECT lbl AS community, count(*) AS n_nodes, min(node) AS min_node
    FROM l3
    GROUP BY lbl
    ORDER BY community
    """,
    tags=("graph",),
    bench=True,
    # the eager sym pin's builder lists 4 lineitem FileScan leaves
    # (budget 2); its final AQE plan runs 1 FileScan + 2 ReusedExchange
    # (sf0.001): the excess is static, not an extra physical scan
    pin_scans=(
        "sym builder: edges self-join side b re-lists li (ReusedExchange 1 of 2)",
        "sym builder: union's mirrored leg re-lists edges (ReusedExchange 2 of 2)",
    ),
)
def graph_label_propagation(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = LPA_ITERATIONS,
    bounded_graph: bool = True,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    part co-purchase graph — the deterministic variant: every node
    starts labeled with its own id; each round it adopts its
    neighbors' most frequent label, ties to the SMALLEST label (plain
    LPA's random tie-break would never cross engines). Three fixed
    rounds, then a community rollup.

    r14 (VERDICT r13 task 1 — stage-launch floor): the r13 shape ran
    84+ observed stages for a bounded demo graph, almost all
    scheduler latency — every per-round lazy pin was a separate
    nested AQE execution whose materialization jobs re-ran the
    upstream chain (fresh stage ids, no exchange reuse across
    executions). Measured rewrite (quiet epoch, sf0.1, best-of-3):

        pins-per-round (r13)                 2.59 s   84 stages
        no round pins, keyed join            2.36 s   70
        no round pins + broadcast labels     1.98 s   49
        + eager sym pin + 1 exchange/round   1.73 s   35   <- shipped

    Shipped shape: the symmetric edge list is pinned EAGERLY once
    (its builder runs as one clean AQE execution; later jobs read the
    cached blocks), each round broadcast-joins the node-bounded label
    frame (gated: ``broadcast_bounded`` — this graph is bounded by
    the constant ``l_orderkey <= 2000`` predicate; an unbounded
    caller passes ``bounded_graph=False`` and gets AQE-planned keyed
    joins), and the round's two aggregations share ONE exchange
    hashed on ``node`` (guide §2.4: hash(node) satisfies the
    (node, lbl) clustering requirement, so Catalyst plans both aggs
    exchange-free after the explicit repartition). Rounds are pinned
    only every LPA_PIN_EVERY rounds, so the default 3 run un-pinned:
    a 3-round lineage is shallow, and one AQE execution reuses its own
    exchanges where per-round pins could not; a longer run keeps its
    plan bounded by the pin interval. On an
    UNBOUNDED graph the partial-aggregating two-exchange shape
    (map-side combine before a (node,lbl)-keyed shuffle) is the
    honest layout — ``bounded_graph=False`` restores it by dropping
    both the broadcast and the single-exchange repartition."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # not pinned (r14): its only consumer is sym's one
        # materialization, where the union's two branches share the
        # distinct exchange via ReusedExchange
    )
    sym = pin(
        edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct(),
        # eager (r14): one clean materialization up front; per-round
        # consumers then scan cached blocks instead of re-entering a
        # nested lazy-pin AQE execution per round (scan-leaf lint)
        eager=True,
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    # r13: the per-round "most frequent label, ties to smallest" pick is
    # a partial-aggregating min(struct(-count, lbl)) instead of a
    # row_number window — same winner by lexicographic struct order.
    for i in range(1, iterations + 1):
        msgs = sym.join(
            broadcast_bounded(labels, bounded_graph), sym["v"] == labels["node"]
        ).select(sym["u"].alias("node"), "lbl")
        if bounded_graph:
            # single exchange per round: hash(node) already satisfies
            # the (node, lbl) clustering below (guide §2.4)
            msgs = msgs.repartition("node")
        labels = (
            msgs.groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("lbl"))
                ).alias("b")
            )
            .select("node", F.col("b.lbl").alias("lbl"))
        )
        if i % LPA_PIN_EVERY == 0 and i < iterations:
            labels = pin(labels, eager=True)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("community")
    )


SLIDING_DISTINCT_DAYS = 7


@query(
    "events_sliding_distinct_users",
    oracle=f"""
    WITH contrib AS (
        SELECT DISTINCT
               CAST(ts AS DATE) + CAST(x.i AS INTEGER) AS day,
               user_id
        FROM events, (SELECT unnest(range(0, {SLIDING_DISTINCT_DAYS})) AS i) x
    ),
    bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    )
    SELECT day, count(*) AS active_users_7d
    FROM contrib, bounds
    WHERE day >= d0 AND day <= d1
    GROUP BY day
    ORDER BY day
    """,
    tags=("events", "timeseries"),
    bench=True,
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    count-DISTINCT that defeats window frames (distinct is not
    algebraic over a sliding frame). The scale formulation: each
    event CONTRIBUTES its user to the {SLIDING_DISTINCT_DAYS} days
    whose trailing window covers it (a bounded 7× explode of skinny
    (day, user) pairs, deduplicated map-side), then one exact distinct
    count per day. No per-day re-scan, no quadratic self-join; the
    result spine is clipped to observed days on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("event_day"), "user_id"
    )
    contrib = (
        ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(SLIDING_DISTINCT_DAYS - 1))).alias(
                "i"
            ),
            "event_day",
            "user_id",
        )
        .select(F.date_add(F.col("event_day"), F.col("i")).alias("day"), "user_id")
        .distinct()
    )
    bounds = ev.agg(
        F.min("event_day").alias("d0"), F.max("event_day").alias("d1")
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter((F.col("day") >= F.col("d0")) & (F.col("day") <= F.col("d1")))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
        .orderBy("day")
    )


@query(
    "events_longest_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    islands AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                          AS INTEGER) AS grp
        FROM days
    ),
    streaks AS (
        SELECT user_id, count(*) AS streak_len, min(day) AS streak_start
        FROM islands GROUP BY user_id, grp
    ),
    best AS (
        SELECT user_id, streak_len, streak_start,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY streak_len DESC, streak_start) AS rn
        FROM streaks
    )
    SELECT user_id, streak_len AS longest_streak_days, streak_start
    FROM best WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("events", "timeseries"),
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user — the classic
    gaps-and-islands engagement metric. day − row_number(day) is
    constant exactly within a consecutive run, so one window + one agg
    finds every streak without self-joins; earliest start breaks
    length ties deterministically. All three stages key on user_id, so
    the whole query rides a single shuffle at any scale."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len"), F.min("day").alias("streak_start")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("streak_len").alias("longest_streak_days"),
            "streak_start",
        )
        .orderBy("user_id")
    )


@query(
    "events_sliding_hll_users",
    oracle=None,  # sketch estimates; tolerance vs the exact twin in tests
    tags=("events", "timeseries", "sketch"),
)
def events_sliding_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users from DAILY HLL SKETCHES — the
    materialized-sketch answer to events_sliding_distinct_users: one
    pass builds a kilobyte sketch per day, and every trailing window
    is a UNION OF 7 STORED SKETCHES (hll_union_agg over an offset
    explode), never a re-scan of raw ids. At 100 TB this is the only
    viable shape for many overlapping windows: the raw-pair explode
    of the exact variant re-shuffles the corpus per window width,
    while the sketch table is days × 1 KB forever. The query is
    SKETCH-ONLY — this is the shape users should copy; the ±5% bound
    against the exact explode+distinct twin lives in
    tests/test_tolerance.py, not in the plan (computing the exact
    answer in-query would double the very work the sketch exists to
    avoid — r4 verdict finding #3)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    contrib = daily.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(SLIDING_DISTINCT_DAYS - 1))
        ).alias("i"),
        "day",
        "sk",
    ).select(F.date_add(F.col("day"), F.col("i")).alias("win_day"), "sk")
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter((F.col("win_day") >= F.col("d0")) & (F.col("win_day") <= F.col("d1")))
        .groupBy("win_day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users_7d"),
            F.count(F.lit(1)).alias("n_sketches_merged"),
        )
        .select("win_day", "approx_users_7d", "n_sketches_merged")
        .orderBy("win_day")
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER w AS prev_type
        FROM events WHERE event_type <> 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_id, ts AS valid_from, event_type
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    dim AS (
        SELECT user_id, event_type AS state_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id)
                 AS valid_to
        FROM changes
    )
    SELECT p.event_id AS purchase_event, p.user_id, d.state_type,
           d.valid_from AS state_since
    FROM events p
    LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND d.valid_from <= p.ts
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_event
    """,
    tags=("join", "cdc", "temporal"),
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join against an SCD2 dimension — the
    temporal-correctness pattern feature stores exist for: each
    purchase is joined to the activity-state interval (built from the
    user's NON-purchase events, same construction as scd2_intervals)
    that was valid AT the purchase instant, never to later knowledge.
    Because SCD2 intervals partition each user's timeline, the
    interval predicate makes the join 1:at-most-1 BY CONSTRUCTION —
    no post-rank dedup, unlike the as-of family. Plan: equi-join on
    user_id with the interval residual; the dimension side is change
    points only (orders of magnitude smaller than the stream), so at
    100 TB it broadcast- or hash-joins cheaply while the fact side
    never shuffles more than once."""
    e = load_table(spark, sf_dir, "events")
    non_purchase = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = non_purchase.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_id", F.col("ts").alias("valid_from"), "event_type")
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    dim = changes.select(
        "user_id",
        F.col("event_type").alias("state_type"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event"), "user_id", "ts"
    )
    d = dim.alias("d")
    return (
        p.alias("p")
        .join(
            d,
            (F.col("d.user_id") == F.col("p.user_id"))
            & (F.col("d.valid_from") <= F.col("p.ts"))
            & (F.col("d.valid_to").isNull() | (F.col("p.ts") < F.col("d.valid_to"))),
            "left",
        )
        .select(
            "purchase_event",
            F.col("p.user_id").alias("user_id"),
            "state_type",
            F.col("valid_from").alias("state_since"),
        )
        .orderBy("purchase_event")
    )


MAD_K = 3.0  # robust z cutoff
MAD_SCALE = 1.4826  # consistency constant for normal data


@query(
    "events_mad_outliers",
    oracle=f"""
    WITH stats AS (
        SELECT user_id,
               median(value) AS med
        FROM events GROUP BY user_id
    ),
    dev AS (
        SELECT e.user_id, e.event_id, e.value, s.med,
               abs(e.value - s.med) AS adev
        FROM events e JOIN stats s USING (user_id)
    ),
    mad AS (
        SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           count(*) AS n_events,
           CAST(SUM(CASE WHEN m.mad > 0
                          AND d.adev / (m.mad * {MAD_SCALE}) > {MAD_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(max(CASE WHEN m.mad > 0
                          THEN d.adev / (m.mad * {MAD_SCALE}) END), 6)
             AS max_robust_z
    FROM dev d JOIN mad m USING (user_id)
    GROUP BY d.user_id
    ORDER BY d.user_id
    """,
    tags=("events", "analytics", "dq"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    estimator that survives what breaks z-scores: mean and stddev are
    themselves dragged by the outliers they're meant to find, while
    median/MAD have a 50% breakdown point. robust_z = |x − med| /
    (MAD·1.4826), flagged beyond {MAD_K}.

    Two exact-median aggregations per user (Spark `percentile`, DuckDB
    `median` — identical interpolation on even counts) with the
    deviations joined back between them; all three stages key on
    user_id so the stream shuffles once, and the medians are exact —
    no approximation drift between engines, hence a hash oracle rather
    than a tolerance check."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = pin(ev.join(med, "user_id").select(
        "user_id", "event_id", "value", F.abs(F.col("value") - F.col("med")).alias("adev")
    ))  # 2 consumers (scan-leaf lint)
    mad = dev.groupBy("user_id").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    rz = F.col("adev") / (F.col("mad") * MAD_SCALE)
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when((F.col("mad") > 0) & (rz > MAD_K), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max(F.when(F.col("mad") > 0, rz)), 6).alias("max_robust_z"),
        )
        .orderBy("user_id")
    )


KCORE_K = 3       # minimum in-core degree
KCORE_ROUNDS = 4  # bounded peel rounds (parameterized below)


@query(
    "graph_kcore",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym0 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    n1 AS (SELECT u FROM sym0 GROUP BY u HAVING count(*) >= {KCORE_K}),
    sym1 AS (SELECT s.u, s.v FROM sym0 s
             JOIN n1 a ON s.u = a.u JOIN n1 b ON s.v = b.u),
    n2 AS (SELECT u FROM sym1 GROUP BY u HAVING count(*) >= {KCORE_K}),
    sym2 AS (SELECT s.u, s.v FROM sym1 s
             JOIN n2 a ON s.u = a.u JOIN n2 b ON s.v = b.u),
    n3 AS (SELECT u FROM sym2 GROUP BY u HAVING count(*) >= {KCORE_K}),
    sym3 AS (SELECT s.u, s.v FROM sym2 s
             JOIN n3 a ON s.u = a.u JOIN n3 b ON s.v = b.u),
    n4 AS (SELECT u FROM sym3 GROUP BY u HAVING count(*) >= {KCORE_K}),
    sym4 AS (SELECT s.u, s.v FROM sym3 s
             JOIN n4 a ON s.u = a.u JOIN n4 b ON s.v = b.u)
    SELECT u AS part, CAST(count(*) AS BIGINT) AS core_degree
    FROM sym4 GROUP BY u
    ORDER BY part
    """,
    tags=("graph",),
)
def graph_kcore(
    spark: SparkSession, sf_dir: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded k-core peeling over the part co-purchase graph: each
    round drops every vertex whose degree in the SURVIVING subgraph is
    < k, then restricts the edges to survivors — the dense-subgraph
    extraction used for spam/bot rings and community cores
    (Matula–Beck peeling, distributed as in Montresor et al.). Four
    fixed rounds are registered (parameterized ``rounds``; a true-core
    caller would run the peel through pinning.fixpoint, flagging the
    vertices a round drops) and the oracle replays the identical
    unrolled peel — the LPA precedent for iteration-bounded graph ops.

    Per round: one degree agg + two semi-joins restricting the
    symmetric edge list — Pregel's message shape, all hash-keyed on
    vertex id, nothing quadratic; the edge frame is
    pin-truncated per round so plan analysis stays flat in
    the round count (the r4 LPA lesson). At 100 TB degrees skew
    (celebrity vertices), but the agg is a map-side-combinable count —
    the skew lands on one combiner key, not a shuffle hot spot."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = pin(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # multi-consumer edge list: pin once (scan-leaf lint) — without
        # it the basket self-join re-runs per consumer
    )
    sym = pin(e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ))
    for _ in range(rounds):
        alive = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        sym = pin(
            sym.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("u").alias("part"), "core_degree")
        .orderBy("part")
    )


# half-life 7 days: lambda = ln(2)/7 per day, pinned as an exact double
# literal so both engines decay with the SAME constant (libm ln() is not
# guaranteed correctly-rounded across runtimes)
DECAY_LAMBDA = 0.0990210257942779
US_PER_DAY = 86_400_000_000


@query(
    "events_trending_decay",
    oracle=f"""
    WITH ref AS (SELECT max(epoch_us(ts)) AS t_ref FROM events),
    scored AS (
        SELECT event_type,
               CAST(value * exp(-{DECAY_LAMBDA}
                    * ((t_ref - epoch_us(ts)) / {US_PER_DAY}.0))
                    AS DECIMAL(38,18)) AS dv
        FROM events CROSS JOIN ref
    )
    SELECT event_type,
           count(*) AS n_events,
           round(CAST(sum(dv) AS DOUBLE), 6) AS decayed_value,
           row_number() OVER (
               ORDER BY round(CAST(sum(dv) AS DOUBLE), 6) DESC, event_type
           ) AS trend_rank
    FROM scored
    GROUP BY event_type
    ORDER BY trend_rank
    """,
    tags=("events", "analytics"),
    uwin=(
        'event_type-domain table (handful of categories)',
    ),
)
def events_trending_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement ranking — the "trending
    now" scorer (half-life 7 days): each event contributes
    value·e^(−λ·age_days) against the corpus's latest timestamp, so
    yesterday's burst outranks last month's sustained volume. The
    reference time is an in-plan 1-row agg broadcast back over the
    scan (the TF-IDF N pattern — nothing blocks plan build); ages are
    integer microsecond diffs so both engines feed exp() the identical
    double; per-event decay terms go through decimal so the per-type
    sum is partition-order-free; the final rank sorts a
    handful-of-types frame. One corpus scan, one tiny broadcast, one
    grid-sized agg — and at any scale the decayed sum is MERGEABLE
    (fix t_ref, decay then sum) so daily partials roll up without
    rescanning history, unlike a sliding-window count."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    ref = ev.agg(F.max(F.unix_micros("ts")).alias("t_ref"))
    age_days = (F.col("t_ref") - F.unix_micros("ts")) / F.lit(float(US_PER_DAY))
    dv = (F.col("value") * F.exp(-F.lit(DECAY_LAMBDA) * age_days)).cast(
        "decimal(38,18)"
    )
    scored = (
        ev.crossJoin(F.broadcast(ref))
        .select("event_type", dv.alias("dv"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("dv").cast("double"), 6).alias("decayed_value"),
        )
    )
    w = Window.orderBy(F.desc("decayed_value"), F.asc("event_type"))
    return (
        scored.withColumn("trend_rank", F.row_number().over(w))
        .select("event_type", "n_events", "decayed_value", "trend_rank")
        .orderBy("trend_rank")
    )


BASKET_MIN_SUPPORT = 0.05  # pair must appear in ≥5% of baskets


@query(
    "events_market_basket",
    oracle=f"""
    WITH baskets AS (
        SELECT user_id, event_type FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_baskets FROM events),
    item AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM baskets
        GROUP BY event_type
    ),
    pair AS (
        SELECT a.event_type AS ante, b.event_type AS cons,
               CAST(count(*) AS BIGINT) AS pair_cnt
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT ante, cons, pair_cnt FROM pair
        UNION ALL
        SELECT cons AS ante, ante AS cons, pair_cnt FROM pair
    )
    SELECT s.ante, s.cons,
           s.pair_cnt,
           round(s.pair_cnt / CAST(n.n_baskets AS DOUBLE), 6) AS support,
           round(s.pair_cnt / CAST(ia.cnt AS DOUBLE), 6) AS confidence,
           round((s.pair_cnt / CAST(ia.cnt AS DOUBLE))
                 / (ic.cnt / CAST(n.n_baskets AS DOUBLE)), 6) AS lift
    FROM sym s
    JOIN item ia ON s.ante = ia.event_type
    JOIN item ic ON s.cons = ic.event_type
    CROSS JOIN n
    WHERE s.pair_cnt / CAST(n.n_baskets AS DOUBLE) >= {BASKET_MIN_SUPPORT}
    ORDER BY ante, cons
    """,
    tags=("events", "analytics"),
)
def events_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over user event baskets
    (support / confidence / lift — the Agrawal-Srikant metrics): a
    user's distinct event types form a basket; every co-occurring pair
    above minimum support becomes the rule ante→cons with
    confidence = P(cons|ante) and lift = confidence / P(cons).

    The shape IS the scalable one — the same reason FP-growth on a
    cluster reduces to this for pairs: one dedup agg to baskets, one
    self-equi-join ON THE BASKET KEY (never a cross join; per-basket
    cost is |basket|², bounded by the item-universe cardinality), two
    broadcast-sized item-count joins, one broadcast 1-row basket
    total. Rule metrics are single IEEE divisions on exact integer
    counts, rounded before compare; the support threshold applies to
    the exact ratio identically in both engines. Higher-order
    itemsets at 100 TB iterate this join on the pruned survivor set
    (the a-priori property), each round broadcast-filtered by the
    last."""
    ev = load_table(spark, sf_dir, "events")
    # baskets feeds the item counts AND both self-join sides: pin once
    # (scan-leaf lint) so the dedup agg runs a single time
    baskets = pin(ev.select("user_id", "event_type").distinct())
    n = baskets.agg(F.countDistinct("user_id").alias("n_baskets"))
    item = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ante"), F.col("b.event_type").alias("cons")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    sym = pair.unionByName(
        pair.select(
            F.col("cons").alias("ante"), F.col("ante").alias("cons"), "pair_cnt"
        )
    )
    ia = item.select(F.col("event_type").alias("ante"), F.col("cnt").alias("a_cnt"))
    ic = item.select(F.col("event_type").alias("cons"), F.col("cnt").alias("c_cnt"))
    support = F.col("pair_cnt") / F.col("n_baskets").cast("double")
    confidence = F.col("pair_cnt") / F.col("a_cnt").cast("double")
    lift = confidence / (F.col("c_cnt") / F.col("n_baskets").cast("double"))
    return (
        sym.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(n))
        .filter(support >= BASKET_MIN_SUPPORT)
        .select(
            "ante",
            "cons",
            "pair_cnt",
            F.round(support, 6).alias("support"),
            F.round(confidence, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy("ante", "cons")
    )


@query(
    "events_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tr AS (
        SELECT event_type, day, v,
               CASE WHEN count(*) OVER w = 7
                    THEN CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER w AS DOUBLE) / 7
                    END AS trend
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT *, v - trend AS detrended,
               CAST(dayofweek(day) AS INT) AS dow
        FROM tr
    ),
    seas AS (
        SELECT event_type, dow,
               CAST(SUM(CAST(detrended AS DECIMAL(38,18))) AS DOUBLE)
                 / count(detrended) AS seasonal
        FROM det WHERE detrended IS NOT NULL
        GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day,
           round(d.v, 6) AS daily_value,
           round(d.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(d.detrended - s.seasonal, 6) AS residual
    FROM det d JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
    WHERE d.trend IS NOT NULL
    ORDER BY d.event_type, d.day
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    core of STL, per-series): daily value series → 7-observation
    centered moving-average TREND (emitted only where the window is
    complete) → day-of-week mean of the detrended series as SEASONAL
    → the rest is RESIDUAL, the anomaly-hunting signal. The
    observation window (ROWS frame) rather than a calendar RANGE frame
    makes gap handling identical in both engines.

    Scale shape: one scan → (type × day) daily grid (map-side combined
    agg — the grid is tiny regardless of corpus size); every window
    and group after runs on the grid, partitioned BY SERIES, so a
    million independent series parallelize perfectly and no window
    ever sees more than one series. Decimal discipline on every sum
    (daily, trend, seasonal); rounding before compare."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(dsum(F.col("value"), "v"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trend = F.when(
        F.count(F.lit(1)).over(w) == 7,
        F.sum(F.col("v").cast("decimal(28,6)")).over(w).cast("double") / 7,
    )
    det = daily.select(
        "event_type",
        "day",
        "v",
        trend.alias("trend"),
        F.dayofweek("day").cast("int").alias("dow"),
    ).withColumn("detrended", F.col("v") - F.col("trend"))
    seas = (
        det.filter(F.col("detrended").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            (
                F.sum(F.col("detrended").cast("decimal(38,18)")).cast("double")
                / F.count("detrended")
            ).alias("seasonal")
        )
    )
    return (
        det.join(seas, ["event_type", "dow"])
        .filter(F.col("trend").isNotNull())
        .select(
            "event_type",
            "day",
            F.round("v", 6).alias("daily_value"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("detrended") - F.col("seasonal"), 6).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


IVM_SPLIT_ORDER = 3000  # orders with key <= split are the "old" batch


@query(
    "merge_incremental_join",
    oracle=f"""
    SELECT o.o_orderkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey <= {2 * IVM_SPLIT_ORDER}
    GROUP BY o.o_orderkey
    ORDER BY o.o_orderkey
    """,
    tags=("analytics", "ivm"),
    scans=(
        "IVM delta join: the dA x B0 term re-scans orders with its own old/new partition filter",
        "IVM delta join: the A0 x dB term re-scans lineitem likewise",
        "IVM delta join: the dA x dB term re-scans orders' delta partition",
        "IVM delta join: the dA x dB term re-scans lineitem's delta partition",
        "standing-state term scans both base partitions; all four terms partition-prune differently, which is the point of incremental view maintenance (pinning would materialize base+delta and defeat pruning)",
    ),
)
def merge_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the delta rule
    Δ(A ⋈ B) = (ΔA ⋈ B₀) ∪ (A₀ ⋈ ΔB) ∪ (ΔA ⋈ ΔB): both inputs are
    split into an "old" half (keys ≤ {IVM_SPLIT_ORDER}) and a "delta"
    half; the maintained view is old⋈old (the standing materialized
    state) UNION the three delta terms, and the registered result must
    hash-equal the from-scratch join the oracle computes — the
    correctness condition every IVM engine (Materialize, DBSP, Delta
    MVs) maintains per transaction.

    Scale shape: each delta term joins a SMALL change set against a
    large standing side — the whole point of IVM is that work tracks
    |Δ|, not |A|+|B|; the three terms and the base union into ONE plan
    (no intermediate materialization needed for correctness proof) and
    the final per-key agg runs on the union. The companion
    merge_incremental_agg row maintains an AGGREGATE by partial-state
    merge; together they cover the two IVM primitives."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey").filter(
        F.col("o_orderkey") <= 2 * IVM_SPLIT_ORDER
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).filter(F.col("l_orderkey") <= 2 * IVM_SPLIT_ORDER)
    o_old = o.filter(F.col("o_orderkey") <= IVM_SPLIT_ORDER)
    o_new = o.filter(F.col("o_orderkey") > IVM_SPLIT_ORDER)
    l_old = li.filter(F.col("l_orderkey") <= IVM_SPLIT_ORDER)
    l_new = li.filter(F.col("l_orderkey") > IVM_SPLIT_ORDER)

    def j(a, b):
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderkey", "l_quantity"
        )

    view = (
        j(o_old, l_old)          # standing state
        .unionByName(j(o_new, l_old))  # ΔA ⋈ B₀
        .unionByName(j(o_old, l_new))  # A₀ ⋈ ΔB
        .unionByName(j(o_new, l_new))  # ΔA ⋈ ΔB
    )
    return (
        view.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_qty"),
        )
        .orderBy("o_orderkey")
    )


ABC_A, ABC_B = 0.80, 0.95  # cumulative-revenue class boundaries


@query(
    "orders_abc_pareto",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS r
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(r) AS t FROM rev),
    cum AS (
        SELECT o_custkey, r,
               round(CAST(SUM(r) OVER (ORDER BY r DESC, o_custkey) AS DOUBLE)
                     / CAST((SELECT t FROM tot) AS DOUBLE), 9) AS cshare
        FROM rev
    ),
    classed AS (
        SELECT *,
               CASE WHEN cshare <= {ABC_A} THEN 'A'
                    WHEN cshare <= {ABC_B} THEN 'B'
                    ELSE 'C' END AS abc
        FROM cum
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(SUM(r), 2) AS DOUBLE) AS class_revenue,
           round(CAST(min(cshare) AS DOUBLE), 9) AS first_cum_share,
           round(CAST(max(cshare) AS DOUBLE), 9) AS last_cum_share
    FROM classed
    GROUP BY abc
    ORDER BY abc
    """,
    tags=("analytics", "scale"),
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification (the 80-15-5 inventory rule):
    customers ranked by revenue; class A holds the head that carries
    {ABC_A:.0%} of cumulative revenue, B the next band to {ABC_B:.0%},
    C the tail. The interesting part at scale is the GLOBAL cumulative
    sum: the naive window (ORDER BY with no partition) drags the whole
    corpus through one task, so this plan computes the prefix sum the
    distributed way via operators/prefix.distributed_cumsum —
    range-repartition on the sort key, per-partition running sums,
    plus a broadcast of per-partition totals' prefix offsets (the
    dedup_sorted_neighborhood global-rank pattern applied to sums;
    property-pinned bit-equal to the sequential window in
    tests/test_prefix_sum.py). Decimal arithmetic end-to-end makes the distributed
    prefix sum EXACTLY equal the oracle's sequential window; shares
    round to 9dp before classification so boundaries cannot flip."""
    from supabase_etl_spark.operators.prefix import distributed_cumsum

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("r")
    )
    cum = distributed_cumsum(
        rev, "r", [F.col("r").desc(), F.col("o_custkey").asc()], out="lcum"
    )
    tot = rev.agg(F.sum("r").alias("t"))
    cshare = F.round(F.col("lcum").cast("double") / F.col("t").cast("double"), 9)
    abc = (
        F.when(F.col("cshare") <= ABC_A, F.lit("A"))
        .when(F.col("cshare") <= ABC_B, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select("o_custkey", "r", cshare.alias("cshare"))
        .select("o_custkey", "r", "cshare", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("r"), 2).cast("double").alias("class_revenue"),
            F.round(F.min("cshare"), 9).alias("first_cum_share"),
            F.round(F.max("cshare"), 9).alias("last_cum_share"),
        )
        .orderBy("abc")
    )


# a supplier nation at every committed scale factor (the generated
# nations are NATION_0..24), so the relaxation reaches the nations it
# trades with
SSSP_SOURCE = "NATION_12"
SSSP_MAX_ROUNDS = 24  # |V| - 1: the Bellman-Ford worst case


def _sssp_oracle() -> str:
    return f"""
    WITH RECURSIVE raw_edges AS (
        SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY src, dst
    ),
    edges AS (
        SELECT src, dst, CAST(w % 7 + 1 AS BIGINT) AS wi FROM raw_edges
    ),
    reach(v, dist, hops) AS (
        SELECT '{SSSP_SOURCE}', CAST(0 AS BIGINT), 0
        UNION
        SELECT e.dst, r.dist + e.wi, r.hops + 1
        FROM reach r JOIN edges e ON r.v = e.src
        WHERE r.hops < {SSSP_MAX_ROUNDS}
    ),
    best AS (SELECT v, min(dist) AS dist FROM reach GROUP BY v)
    SELECT n.n_name AS nation, b.dist
    FROM nation n LEFT JOIN best b ON n.n_name = b.v
    ORDER BY nation
    """


@query(
    "graph_sssp_bellman_ford",
    oracle=_sssp_oracle(),
    tags=("graph", "analytics", "iterative"),
)
def graph_sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths (Bellman-Ford, the distributed
    relaxation form) over the nation trade graph with deterministic
    integer weights (w % 7 + 1 from the lineitem edge counts — exact
    arithmetic, no float drift across engines). Each round is one
    equi-join (current dists x edges) plus one min-aggregation — the
    Pregel shape shared with graph_pagerank; the
    rounds run through pinning.fixpoint, which stops as soon as a
    round relaxes nothing (graph diameter rounds in practice, |V|-1
    worst case, RuntimeError past the bound rather than a silently
    wrong fixpoint). The oracle is the same recurrence as a
    hop-bounded recursive CTE. At 100 TB:
    nodes/edges shuffle on their keys, nothing collects; integer
    distances make the fixpoint engine-order-independent."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
        )
    )
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    c = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = pin(  # <=600-row edge table; truncate the star-join lineage
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, s.s_nationkey == n1.s_nk)
        .join(n2, c.c_nationkey == n2.c_nk)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg((F.count(F.lit(1)) % 7 + 1).cast("bigint").alias("wi")),
        eager=True,
    )
    dist = pin(
        load_table(spark, sf_dir, "nation")
        .select(F.col("n_name").alias("v"))
        .withColumn(
            "dist",
            F.when(F.col("v") == SSSP_SOURCE, F.lit(0).cast("bigint")).otherwise(
                F.lit(None).cast("bigint")
            ),
        ),
        eager=True,
    )

    def relax(dist: DataFrame) -> DataFrame:
        cand = (
            dist.filter(F.col("dist").isNotNull())
            .join(edges, dist.v == edges.src)
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min(F.col("dist") + F.col("wi")).alias("cand"))
        )
        return dist.join(cand, "v", "left").select(
            "v",
            F.least("dist", "cand").alias("dist"),
            (
                (F.col("cand") < F.col("dist"))
                | (F.col("dist").isNull() & F.col("cand").isNotNull())
            ).alias("chg"),
        )

    dist = fixpoint(dist, relax, max_rounds=SSSP_MAX_ROUNDS, what="Bellman-Ford")
    return dist.select(F.col("v").alias("nation"), "dist").orderBy("nation")


@query(
    "events_pattern_match_sequence",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_type, event_id,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2,
               lead(ts, 2) OVER w AS ts2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    hits AS (
        SELECT user_id, ts, event_id
        FROM ordered
        WHERE event_type = 'view' AND t1 = 'view' AND t2 = 'purchase'
          AND ts2 <= ts + INTERVAL 24 HOUR
    )
    SELECT user_id,
           count(*) AS n_matches,
           min(ts) AS first_match_ts
    FROM hits
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "analytics", "pattern"),
)
def events_pattern_match_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style STRICT-SEQUENCE detection (the pattern
    `view view purchase` with strictly consecutive rows and a 24-hour
    deadline) — stricter than the funnel ops, which count stage
    reachability and tolerate interleaved events. Consecutive-row
    patterns of fixed length compile to lead() windows over the
    per-user event order (total order (ts, event_id) so ties cannot
    flip matches); per-user windows partition by user_id, so the one
    shuffle is user-keyed and the pattern scan is row-local — the
    standard rewrite for fixed-length MATCH_RECOGNIZE at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("ts2"),
    )
    hits = ordered.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "view")
        & (F.col("t2") == "purchase")
        & (F.col("ts2") <= F.col("ts") + F.expr("INTERVAL 24 HOURS"))
    )
    return (
        hits.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("ts").alias("first_match_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "events_clamped_running_balance",
    oracle="""
    WITH deltas AS (
        SELECT user_id, ts, event_id,
               CAST(round(CASE WHEN event_type = 'purchase' THEN -value
                               ELSE value END * 100) AS BIGINT) AS delta_c
        FROM events
    ),
    folded AS (
        SELECT user_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list(delta_c ORDER BY ts, event_id)),
                   (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)
               ) AS balance_c,
               count(*) AS n_events
        FROM deltas
        GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(balance_c AS DOUBLE) / 100 AS final_balance
    FROM folded
    ORDER BY user_id
    """,
    tags=("events", "analytics", "fold"),
)
def events_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLAMPED running balance — balance(i) = max(0, balance(i-1) + Δi)
    — the canonical NON-ASSOCIATIVE recurrence (inventory that cannot
    go negative, credit that cannot overdraw) that no window frame or
    prefix sum can express: the clamp makes every step depend on the
    folded past. The scalable rewrite: per-user ordered fold —
    collect each user's deltas in (ts, event_id) order and run ONE
    array-local aggregate() with the clamp inside the lambda; state is
    a single bigint (cents — exact integer arithmetic, no float
    accumulation), work is user-partitioned (one shuffle), and the
    fold order is pinned by a total order so both engines execute the
    identical sequence. Credits are event values; purchases debit."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(
            F.when(F.col("event_type") == "purchase", -F.col("value")).otherwise(
                F.col("value")
            )
            * 100
        )
        .cast("bigint")
        .alias("delta_c"),
    )
    folded = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "delta_c"))
                    ),
                    lambda s: s["delta_c"],
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: F.greatest(F.lit(0).cast("bigint"), acc + x),
            ).alias("balance_c"),
        )
    )
    return folded.select(
        "user_id",
        "n_events",
        (F.col("balance_c").cast("double") / 100).alias("final_balance"),
    ).orderBy("user_id")


@query(
    "scd3_previous_value",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS previous_value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type AS current_value,
           previous_value,
           ts AS changed_at
    FROM changes WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("events", "analytics", "cdc"),
)
def scd3_previous_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 3 — current + previous value as COLUMNS on one row per
    key (the dimension shape when only one step of history matters,
    completing the registry's SCD1/SCD2 family): compress the change
    history (lag-change detection over the (ts, event_id) total
    order), pair each change with the value it replaced, and keep each
    key's latest change row. Two user-partitioned windows over the
    change stream — the shuffle is user-keyed and the change stream is
    far smaller than the event stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .withColumn("previous_value", F.lag("event_type").over(w))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
    )
    return (
        changes.filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("current_value"),
            "previous_value",
            F.col("ts").alias("changed_at"),
        )
        .orderBy("user_id")
    )


@query(
    "events_pattern_negation",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               row_number() OVER w AS k
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    nxt AS (
        SELECT user_id, ts, event_id, event_type, k,
               min(CASE WHEN event_type = 'purchase' THEN k END) OVER f AS np_k,
               min(CASE WHEN event_type = 'error' THEN k END) OVER f AS ne_k
        FROM ordered
        WINDOW f AS (PARTITION BY user_id ORDER BY k
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    matches AS (
        SELECT v.user_id, v.ts, v.event_id
        FROM nxt v JOIN ordered p
          ON p.user_id = v.user_id AND p.k = v.np_k
        WHERE v.event_type = 'view'
          AND p.ts <= v.ts + INTERVAL 24 HOUR
          AND (v.ne_k IS NULL OR v.ne_k > v.np_k)
    )
    SELECT user_id, count(*) AS n_matches, min(ts) AS first_match_ts
    FROM matches
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "analytics", "pattern"),
)
def events_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern with NEGATION (MATCH_RECOGNIZE `view NOT-error*
    purchase` within 24 h): a view matches iff the user's NEXT purchase
    arrives inside the deadline with NO error event strictly between
    them — absence-of-event semantics that funnels and strict-sequence
    patterns can't express.

    The rewrite that scales: a per-user row_number gives every event a
    dense order key; two FOLLOWING-frame window minima find the next
    purchase and next error keys in one pass (no per-view scan of the
    future); the negation is then the pure key comparison ne_k > np_k,
    and one user-keyed self-join fetches the matched purchase's
    timestamp for the deadline test. Total cost: one user-keyed shuffle
    for the windows plus one user-keyed equi-join — never event x event
    within a user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.withColumn("k", F.row_number().over(wk))
    wf = (
        Window.partitionBy("user_id")
        .orderBy("k")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ordered.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "k",
        F.min(F.when(F.col("event_type") == "purchase", F.col("k"))).over(wf).alias("np_k"),
        F.min(F.when(F.col("event_type") == "error", F.col("k"))).over(wf).alias("ne_k"),
    )
    views = nxt.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "np_k", "ne_k"
    )
    purchases = ordered.select(
        "user_id", F.col("k").alias("np_k"), F.col("ts").alias("p_ts")
    )
    matches = views.join(purchases, ["user_id", "np_k"]).filter(
        (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS"))
        & (F.col("ne_k").isNull() | (F.col("ne_k") > F.col("np_k")))
    )
    return (
        matches.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"), F.min("ts").alias("first_match_ts"))
        .orderBy("user_id")
    )


@query(
    "scd6_hybrid",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER w AS raw_prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_id, ts AS valid_from, event_type
        FROM ordered
        WHERE raw_prev IS NULL OR event_type <> raw_prev
    ),
    t2 AS (
        SELECT user_id, event_type, valid_from, event_id,
               lead(valid_from) OVER w2 AS valid_to,
               lag(event_type) OVER w2 AS prev_type
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    ),
    cur AS (
        SELECT user_id, event_type AS current_type
        FROM t2 WHERE valid_to IS NULL
    )
    SELECT t2.user_id, t2.event_type, t2.prev_type, cur.current_type,
           t2.valid_from, t2.valid_to, (t2.valid_to IS NULL) AS is_current
    FROM t2 JOIN cur USING (user_id)
    ORDER BY t2.user_id, t2.valid_from, t2.event_id
    """,
    tags=("events", "analytics", "cdc"),
)
def scd6_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 6 (hybrid 1+2+3): the change-compressed type-2 interval
    rows, each ALSO carrying the entity's previous value (type 3) and
    the overlaid CURRENT value on every historical row (type 1) — the
    warehouse pattern that lets one table answer as-of, transition, and
    as-of-now questions without joins at query time. Completes the SCD
    family (1 via dedup survivor, 2, 3, and now 6).

    Scale: change compression and both windows are per-entity streams
    (one user-keyed shuffle); the current-value overlay is an equi-join
    of the change table against its open rows — change-table-sized, not
    event-sized."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("raw_prev", F.lag("event_type").over(w))
        .filter(F.col("raw_prev").isNull() | (F.col("event_type") != F.col("raw_prev")))
        .select("user_id", "event_id", F.col("ts").alias("valid_from"), "event_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    t2 = changes.select(
        "user_id",
        "event_type",
        "valid_from",
        "event_id",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lag("event_type").over(w2).alias("prev_type"),
    )
    cur = t2.filter(F.col("valid_to").isNull()).select(
        "user_id", F.col("event_type").alias("current_type")
    )
    return (
        t2.join(cur, "user_id")
        .select(
            "user_id",
            "event_type",
            "prev_type",
            "current_type",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "event_id")
    )


HOLT_ALPHA = 0.5  # level smoothing
HOLT_BETA = 0.3  # trend smoothing
# closed-form trend update t' = ab*(y - l) + (1 - ab)*t, algebraically
# equal to b*(l' - l) + (1 - b)*t — chosen so the fold never repeats the
# l' subexpression (see docstring: DuckDB 1.0 struct-accumulator CSE bug)
HOLT_AB = HOLT_ALPHA * HOLT_BETA
HOLT_OMB = 1.0 - HOLT_AB


@query(
    "events_holt_linear_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type,
               count(*) AS n_obs,
               list(y ORDER BY day) AS ys
        FROM daily GROUP BY event_type
    ),
    fitted AS (
        SELECT event_type, n_obs,
               list_reduce(
                   list_transform(ys, x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)]),
                   (acc, x) -> [
                       {HOLT_ALPHA} * x[1] + (1 - {HOLT_ALPHA}) * (acc[1] + acc[2]),
                       {HOLT_AB!r} * (x[1] - acc[1]) + {HOLT_OMB!r} * acc[2]
                   ]) AS st
        FROM series
    )
    SELECT event_type, n_obs,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2], 6) AS forecast_1
    FROM fitted
    ORDER BY event_type
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend) over each
    event type's daily-total series, with the 1-step-ahead forecast —
    the classic non-seasonal forecasting primitive next to the STL-core
    seasonal decompose. The recurrence is non-associative, so it runs
    as an ordered ARRAY-LOCAL fold per series (the clamped-balance
    machinery): daily totals aggregate with exact decimals, the series
    assembles via an ordered collect bounded by days-per-key (~366),
    and the fold is a sequential double chain — bit-identical across
    engines because both seed with [y1, 0] and fold the tail.

    Two portability traps pinned here: (1) DuckDB 1.0's list_reduce
    mis-evaluates STRUCT-typed accumulators whose fields share
    subexpressions (the l' recomputation inside the trend field came
    back corrupted from iteration 3 onward) — the state is therefore a
    2-element DOUBLE LIST, and the trend update uses the algebraically
    equal closed form t' = ab*(y - l) + (1-ab)*t that never repeats
    l'; (2) both engines must use that SAME form, since the two
    formulas differ in float rounding. At 100 TB the series key becomes
    (type, shard) so arrays stay bounded; partial-series folds combine
    via state handoff (seed the tail fold with the head's state)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
    )
    a = F.lit(float(HOLT_ALPHA))
    ab, omb = F.lit(float(HOLT_AB)), F.lit(float(HOLT_OMB))
    st = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
        F.array(F.element_at("ys", 1), F.lit(0.0)),
        lambda acc, x: F.array(
            a * x + (F.lit(1.0) - a) * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            ab * (x - F.element_at(acc, 1)) + omb * F.element_at(acc, 2),
        ),
    )
    return (
        series.select(
            "event_type",
            "n_obs",
            F.round(F.element_at(st, 1), 6).alias("level"),
            F.round(F.element_at(st, 2), 6).alias("trend"),
            F.round(F.element_at(st, 1) + F.element_at(st, 2), 6).alias("forecast_1"),
        )
        .orderBy("event_type")
    )


CUSUM_SLACK = 0.02  # allowance k, in relative-deviation units
CUSUM_H = 0.3  # alarm threshold on the cumulative statistic


@query(
    "events_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type,
               count(*) AS n_obs,
               list(y ORDER BY day) AS ys,
               CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mu
        FROM daily GROUP BY event_type
    ),
    traj AS (
        SELECT event_type, n_obs,
               list_reduce(
                   list_transform(
                       list_prepend(CAST(0 AS DOUBLE),
                                    list_transform(ys, y -> y / mu - 1)),
                       v -> [v]),
                   (acc, x) -> list_append(
                       acc, greatest(CAST(0 AS DOUBLE),
                                     acc[-1] + x[1] - {CUSUM_SLACK}))
               ) AS s_all
        FROM series
    ),
    stats AS (
        SELECT event_type, n_obs, s_all[2:] AS s FROM traj
    )
    SELECT event_type, n_obs,
           round(list_max(s), 6) AS cusum_max,
           CAST(list_position(s, list_max(s)) AS BIGINT) AS argmax_t,
           list_max(s) > {CUSUM_H} AS alarm
    FROM stats
    ORDER BY event_type
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per event type (Page
    1954): relative daily deviations d_t = y_t/mu - 1 accumulate as
    s_t = max(0, s_(t-1) + d_t - k); an upward level shift drives s
    past the alarm threshold, and the argmax marks the most-likely
    change location. The non-associative clamp makes this a sequential
    per-series fold, like Holt — but here the fold APPENDS the s
    trajectory to a list state and max/argmax post-compute from the
    array (sidesteps both the repeated-subexpression hazard inside
    fold lambdas and DuckDB's struct-accumulator bug; trajectory
    length = days-per-key, bounded). Seeding is made explicit by
    prepending s_0 = 0 so both engines run the identical recurrence
    from the identical state. Scale: one exact-decimal daily rollup,
    one ordered collect per series, array-local everything after."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
        (
            F.sum(F.col("y").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    k, zero = F.lit(float(CUSUM_SLACK)), F.lit(0.0)
    ds = F.transform(F.col("ys"), lambda y: y / F.col("mu") - F.lit(1.0))
    s_all = F.aggregate(
        ds,
        F.array(zero),
        lambda acc, x: F.concat(
            acc, F.array(F.greatest(zero, F.element_at(acc, -1) + x - k))
        ),
    )
    s = F.slice(s_all, 2, F.size(s_all) - 1)
    return (
        series.select(
            "event_type",
            "n_obs",
            F.round(F.array_max(s), 6).alias("cusum_max"),
            F.array_position(s, F.array_max(s)).cast("bigint").alias("argmax_t"),
            (F.array_max(s) > F.lit(float(CUSUM_H))).alias("alarm"),
        )
        .orderBy("event_type")
    )


@query(
    "events_theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type, count(*) AS n_obs, list(y ORDER BY day) AS ys
        FROM daily GROUP BY event_type
    ),
    pairs AS (
        SELECT event_type, n_obs,
               flatten(list_transform(range(1, n_obs),
                   i -> list_transform(range(i + 1, n_obs + 1),
                       j -> CASE WHEN ys[j] > ys[i] THEN 1
                                 WHEN ys[j] < ys[i] THEN -1 ELSE 0 END))) AS signs,
               flatten(list_transform(range(1, n_obs),
                   i -> list_transform(range(i + 1, n_obs + 1),
                       j -> (ys[j] - ys[i]) / CAST(j - i AS DOUBLE)))) AS slopes
        FROM series
    ),
    stats AS (
        SELECT event_type, n_obs,
               CAST(list_reduce(signs, (a, b) -> a + b) AS BIGINT) AS s_stat,
               list_sort(slopes) AS sl,
               len(slopes) AS np
        FROM pairs
    )
    SELECT event_type, n_obs, s_stat,
           round(CAST(s_stat AS DOUBLE)
                 / (CAST(n_obs AS DOUBLE) * (n_obs - 1) / 2.0), 6) AS kendall_tau,
           round(CASE WHEN np % 2 = 1 THEN sl[(np + 1) // 2]
                      ELSE (sl[np // 2] + sl[np // 2 + 1]) / 2.0 END, 6)
               AS sen_slope
    FROM stats
    ORDER BY event_type
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend estimation per event type: Mann-Kendall S and
    Kendall's tau (sign-based monotonic-trend test) plus the Theil-Sen
    slope (median of all pairwise slopes) over the daily-total series —
    the outlier-proof complement to the regression family (one wild day
    moves OLS arbitrarily, moves the pairwise-sign statistics by one
    vote). All O(n²)-pair work is ARRAY-LOCAL per series (n = days per
    key, ~30-366 → 435-67k pairs inside one row, zero shuffle); the
    median is exact (sort the slope array, take the middle — identical
    element order in both engines because the slopes are IEEE-identical
    doubles). Daily rollups go through exact decimals as everywhere.
    At 100 TB the series key shards like the other per-series ops."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
    )
    n = F.col("n_obs")
    ysc = F.col("ys")

    def sign_expr(i, j):
        yi = F.element_at(ysc, i.cast("int"))
        yj = F.element_at(ysc, j.cast("int"))
        return F.when(yj > yi, 1).when(yj < yi, -1).otherwise(0)

    signs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(F.sequence(i + 1, n), lambda j: sign_expr(i, j)),
        )
    )
    slopes = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: (
                    F.element_at(ysc, j.cast("int")) - F.element_at(ysc, i.cast("int"))
                )
                / (j - i).cast("double"),
            ),
        )
    )
    stats = series.select(
        "event_type",
        "n_obs",
        F.aggregate(signs, F.lit(0), lambda a, b: a + b).cast("bigint").alias("s_stat"),
        F.array_sort(slopes).alias("sl"),
        F.size(slopes).alias("np"),
    )
    tau = F.col("s_stat").cast("double") / (
        F.col("n_obs").cast("double") * (F.col("n_obs") - 1) / F.lit(2.0)
    )
    med = F.when(
        F.col("np") % 2 == 1,
        F.element_at("sl", ((F.col("np") + 1) / 2).cast("int")),
    ).otherwise(
        (
            F.element_at("sl", (F.col("np") / 2).cast("int"))
            + F.element_at("sl", (F.col("np") / 2).cast("int") + 1)
        )
        / 2.0
    )
    return stats.select(
        "event_type",
        "n_obs",
        "s_stat",
        F.round(tau, 6).alias("kendall_tau"),
        F.round(med, 6).alias("sen_slope"),
    ).orderBy("event_type")


@query(
    "events_kaplan_meier",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
               max(ts) AS last_seen
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT user_id,
               CASE WHEN first_purchase IS NOT NULL
                    THEN CAST(floor((epoch_us(first_purchase) - epoch_us(first_seen))
                                    / 3600000000.0) AS BIGINT)
                    ELSE CAST(floor((epoch_us(last_seen) - epoch_us(first_seen))
                                    / 3600000000.0) AS BIGINT)
               END AS t_obs,
               (first_purchase IS NOT NULL) AS is_event
        FROM per_user
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs),
    drops AS (SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS leaving FROM obs GROUP BY t_obs),
    events_t AS (
        SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS d
        FROM obs WHERE is_event GROUP BY t_obs
    ),
    risk AS (
        SELECT e.t, e.d,
               tot.n_total
               - COALESCE(SUM(dr.leaving) OVER (ORDER BY e.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM events_t e
        LEFT JOIN drops dr ON e.t = dr.t
        CROSS JOIN tot
    ),
    km AS (
        SELECT t, d, n_risk,
               exp(SUM(ln(greatest(1.0 - CAST(d AS DOUBLE) / n_risk, 1e-12)))
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) AS s
        FROM risk
    )
    SELECT t AS hours, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, round(s, 6) AS survival
    FROM km
    ORDER BY hours
    """,
    tags=("events", "analytics", "survival"),
    uwin=(
        'distinct integer-hour event-time grid (<= timeline hours)',
        'distinct integer-hour event-time grid (<= timeline hours)',
    ),
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of time-to-first-purchase
    (hours from a user's first event), right-censoring users who never
    purchase at their last-seen time — the product-limit estimator
    behind every retention/conversion-latency curve. S(t) = prod over
    event times t_i <= t of (1 - d_i / n_i), computed as
    exp(running-sum of log terms) so both engines accumulate in the
    SAME window order (a running product has no SQL aggregate; the log
    detour is the standard rewrite). Durations are exact integer
    epoch-microsecond arithmetic floored to hours (unix_timestamp's
    second truncation would diverge from DuckDB's interval math on
    sub-second stamps). The greatest(..., 1e-12) guard makes the final
    time's d = n_risk row a clean survival 0.000000 instead of ln(0).

    Scale: one user-grouped pass builds observations; everything after
    is distinct-duration-sized (the risk-set cumulative and the KM
    window both run over event-time rows, not users). The risk-window
    note from the prefix-sum family applies if distinct durations ever
    rival the corpus."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.max("ts").alias("last_seen"),
    )
    dur = F.floor(
        (F.unix_micros("first_purchase") - F.unix_micros("first_seen"))
        / F.lit(3600000000.0)
    )
    cens = F.floor(
        (F.unix_micros("last_seen") - F.unix_micros("first_seen"))
        / F.lit(3600000000.0)
    )
    obs = pin(per_user.select(
        F.when(F.col("first_purchase").isNotNull(), dur)
        .otherwise(cens)
        .cast("bigint")
        .alias("t_obs"),
        F.col("first_purchase").isNotNull().alias("is_event"),
    ))  # 3 consumers (scan-leaf lint)
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    drops = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaving")
    )
    events_t = (
        obs.filter("is_event")
        .groupBy(F.col("t_obs").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        events_t.join(drops, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d",
            (
                F.col("n_total")
                - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
            ).alias("n_risk"),
        )
    )
    wkm = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    s = F.exp(
        F.sum(
            F.log(
                F.greatest(
                    F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                    F.lit(1e-12),
                )
            )
        ).over(wkm)
    )
    return risk.select(
        F.col("t").alias("hours"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(s, 6).alias("survival"),
    ).orderBy("hours")


@query(
    "events_gini_coefficient",
    oracle="""
    WITH spend AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    ranked AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
        FROM spend
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(i * x AS DECIMAL(38,12))) AS DOUBLE) AS six
        FROM ranked
    )
    SELECT n AS n_users,
           round(sx, 6) AS total_spend,
           round(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini
    FROM agg
    """,
    tags=("events", "analytics", "inequality"),
)
def events_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase spend (the standard
    whale-concentration readout): G = 2*sum(i*x_i)/(n*sum(x)) -
    (n+1)/n over spend sorted ascending — the discrete Lorenz-curve
    formula, exact, no binning. The global rank comes from the
    DISTRIBUTED-RANK construction (range-repartition + partition-local
    row_number + broadcast per-partition offsets — the
    sample_epoch_shuffle/SNM idiom), so no single-task sort of the
    user population at any scale; both weighted sums run through
    decimals. The oracle ranks with a plain window (single-node)."""
    ev = load_table(spark, sf_dir, "events")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("x"))
    )
    par = spark.sparkContext.defaultParallelism
    ranged = spend.repartitionByRange(par, "x", "user_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wl = Window.partitionBy("pid").orderBy("x", "user_id")
    local = ranged.withColumn("lrn", F.row_number().over(wl))
    offsets = (
        ranged.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("pid", "off")
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "x", (F.col("lrn") + F.col("off")).cast("bigint").alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("x")).cast("decimal(38,12)")).cast("double").alias("six"),
    )
    gini = 2.0 * F.col("six") / (F.col("n") * F.col("sx")) - (
        F.col("n") + F.lit(1.0)
    ) / F.col("n")
    return agg.select(
        F.col("n").alias("n_users"),
        F.round("sx", 6).alias("total_spend"),
        F.round(gini, 6).alias("gini"),
    )


@query(
    "graph_hits_bipartite",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    a1 AS (SELECT p, COUNT(*) AS a FROM e GROUP BY p),
    h1 AS (
        SELECT e.s, SUM(a1.a) AS h FROM e JOIN a1 ON e.p = a1.p GROUP BY e.s
    ),
    a2 AS (
        SELECT e.p, CAST(SUM(CAST(h1.h AS DECIMAL(38,0))) AS BIGINT) AS auth
        FROM e JOIN h1 ON e.s = h1.s GROUP BY e.p
    )
    SELECT p AS part_key, auth AS authority_score
    FROM a2
    ORDER BY authority_score DESC, part_key
    LIMIT 20
    """,
    tags=("graph",),
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the bipartite supplier->part graph
    (two unnormalized mutual-reinforcement iterations; Kleinberg 1999).
    Rankings under unnormalized iteration equal the normalized ones —
    normalization rescales every score by the same constant — so the
    scores stay in the exact integer lattice and the oracle matches
    bit-for-bit.

    Shape per iteration: edge-list equi-join against the current score
    vector + hash aggregate — the same shuffle class as PageRank. At
    100 TB the edge list partitions on the join key each round, score
    vectors are |V|-sized, and the final top-k is a TakeOrdered, so no
    driver-side iteration state. decimal(38,0) keeps sums exact far
    beyond any realistic degree product.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = pin(li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct())  # 3 consumers (scan-leaf lint)
    a1 = e.groupBy("p").agg(F.count(F.lit(1)).alias("a"))
    h1 = (
        e.join(a1, "p")
        .groupBy("s")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e.join(h1, "s")
        .groupBy("p")
        .agg(F.sum(F.col("h").cast("decimal(38,0)")).cast("bigint").alias("auth"))
    )
    return (
        a2.select(F.col("p").alias("part_key"), F.col("auth").alias("authority_score"))
        .orderBy(F.desc("authority_score"), "part_key")
        .limit(20)
    )


@query(
    "graph_link_prediction",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    wedges AS (
        SELECT a1.v AS x, a2.v AS y, a1.u AS z
        FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
    ),
    cand AS (
        SELECT w.x AS u, w.y AS v,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(CAST(round(1.0 / ln(CAST(dz.d AS DOUBLE)), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS adamic_adar
        FROM wedges w JOIN deg dz ON w.z = dz.node
        WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = w.x AND e.v = w.y)
        GROUP BY w.x, w.y
    )
    SELECT c.u, c.v, c.common_neighbors,
           round(c.adamic_adar, 9) AS adamic_adar,
           CAST(c.common_neighbors AS DOUBLE)
               / (du.d + dv.d - c.common_neighbors) AS jaccard,
           CAST(du.d * dv.d AS BIGINT) AS pref_attachment
    FROM cand c
    JOIN deg du ON c.u = du.node
    JOIN deg dv ON c.v = dv.node
    ORDER BY round(c.adamic_adar, 9) DESC, c.u, c.v
    LIMIT 20
    """,
    tags=("graph", "analytics"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph: for every
    non-adjacent pair at distance 2, score with the four classic
    heuristics — common neighbors, Adamic-Adar (Σ 1/ln deg over shared
    neighbors, decimal-summed), Jaccard of neighborhoods, and
    preferential attachment — and return the top 20 predicted links.

    Candidates are generated by WEDGE enumeration (two hops through a
    shared neighbor), never by pairing all non-edges: the cost is
    Σ deg(z)² like triangle counting, not |V|², and the same hub
    controls apply at scale (cap or salt high-degree centers). The
    existing-edge exclusion is an anti-join against the oriented edge
    list, and every per-pair score folds from the wedge group — one
    shuffle on the (x, y) pair key."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = pin(
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # the edge list feeds the adjacency (twice), the anti-join and —
        # through adj — degrees and wedges: pin it once (every graph
        # system materializes the edge list) or the basket self-join
        # re-runs per consumer (the plan read 22 parquet-scan leaves)
    )
    adj = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = pin(adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    ))  # 3 consumers (z, x, y joins)
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedges = a1.join(
        a2, (F.col("a1.u") == F.col("a2.u")) & (F.col("a1.v") < F.col("a2.v"))
    ).select(F.col("a1.v").alias("x"), F.col("a2.v").alias("y"), F.col("a1.u").alias("z"))
    cand = (
        wedges.join(
            edges.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .join(deg.select(F.col("node").alias("z"), F.col("d").alias("dz")), "z")
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(
                F.round(1.0 / F.log(F.col("dz").cast("double")), 12).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("adamic_adar"),
        )
    )
    return (
        cand.join(deg.select(F.col("node").alias("x"), F.col("d").alias("du")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("d").alias("dv")), "y")
        .select(
            F.col("x").alias("u"),
            F.col("y").alias("v"),
            "common_neighbors",
            F.round("adamic_adar", 9).alias("adamic_adar"),
            (
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors"))
            ).alias("jaccard"),
            (F.col("du") * F.col("dv")).alias("pref_attachment"),
        )
        .orderBy(F.col("adamic_adar").desc(), "u", "v")
        .limit(20)
    )


HW_ALPHA = 0.4  # level smoothing
HW_BETA = 0.2  # trend smoothing
HW_GAMMA = 0.3  # seasonal smoothing
HW_M = 7  # weekly season on daily series
# closed forms with NO repeated derived subexpression inside the fold
# (same DuckDB list_reduce CSE-bug avoidance as events_holt_linear_forecast):
#   l'  = a*(y - s_i) + (1-a)*(l + b)
#   b'  = ab*(y - s_i - l) + (1-ab)*b
#   s_i'= g1a*(y - l - b) + (1-g1a)*s_i     where g1a = gamma*(1-alpha)
HW_AB = HW_ALPHA * HW_BETA
HW_OMAB = 1.0 - HW_AB
HW_G1A = HW_GAMMA * (1.0 - HW_ALPHA)
HW_OMG1A = 1.0 - HW_G1A


@query(
    "events_holt_winters_seasonal",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type,
               count(*) AS n_obs,
               list(y ORDER BY day) AS ys
        FROM series_src GROUP BY event_type
    ),
    init AS (
        SELECT event_type, n_obs, ys,
               list_reduce(ys[1:{HW_M}], (a, x) -> a + x) / {float(HW_M)} AS m1,
               list_reduce(ys[{HW_M + 1}:{2 * HW_M}], (a, x) -> a + x)
                   / {float(HW_M)} AS m2
        FROM series
    ),
    state0 AS (
        SELECT event_type, n_obs, ys,
               list_concat(
                   [m1, (m2 - m1) / {float(HW_M)}, 1.0],
                   list_transform(ys[1:{HW_M}], x -> x - m1)) AS s0
        FROM init
    ),
    fitted AS (
        SELECT event_type, n_obs,
               list_reduce(
                   list_concat(
                       [s0],
                       list_transform(ys[{2 * HW_M + 1}:],
                           x -> [CAST(x AS DOUBLE), 0.0, 0.0, 0.0, 0.0,
                                 0.0, 0.0, 0.0, 0.0, 0.0])),
                   (acc, x) -> list_concat(
                       [
                           {HW_ALPHA} * (x[1] - acc[3 + CAST(acc[3] AS INT)])
                               + {1.0 - HW_ALPHA} * (acc[1] + acc[2]),
                           {HW_AB!r} * (x[1] - acc[3 + CAST(acc[3] AS INT)] - acc[1])
                               + {HW_OMAB!r} * acc[2],
                           CASE WHEN acc[3] = {float(HW_M)} THEN 1.0
                                ELSE acc[3] + 1.0 END
                       ],
                       list_transform(range(1, {HW_M + 1}),
                           k -> CASE WHEN k = CAST(acc[3] AS INT)
                                     THEN {HW_G1A!r} * (x[1] - acc[1] - acc[2])
                                          + {HW_OMG1A!r} * acc[3 + CAST(acc[3] AS INT)]
                                     ELSE acc[CAST(k AS INT) + 3] END))) AS st
        FROM state0
    )
    SELECT event_type, n_obs,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[4], 6) AS season_1,
           round(st[1] + st[2] + st[3 + CAST(st[3] AS INT)], 6) AS forecast_1
    FROM fitted
    ORDER BY event_type
    """.replace("series_src", "daily"),
    tags=("events", "analytics", "timeseries"),
)
def events_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters TRIPLE exponential smoothing (level + trend +
    additive weekly seasonality) per event type, with the one-step
    forecast l + b + s_next. Extends events_holt_linear_forecast with a
    cycling seasonal state: the fold state is a flat 10-double list
    [l, b, slot, s1..s7], the active seasonal slot is picked by
    indexing the list with its own slot counter, and each update field
    is a closed form that never repeats a derived value (the same
    DuckDB list_reduce CSE-bug discipline the Holt operator pins).
    Initialization is the textbook two-season start: l0 = mean of week
    one, b0 = (week-two mean − week-one mean)/7, s_j = y_j − l0; the
    fold then consumes observations 15.. in order. Scale shape is
    identical to Holt: exact-decimal daily totals, an ordered collect
    bounded by days-per-key, and a sequential array-local fold —
    partial folds combine by seeding the tail with the head's state."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
    )
    m = HW_M
    fsum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    init = series.select(
        "event_type",
        "n_obs",
        "ys",
        (fsum(F.slice("ys", 1, m)) / float(m)).alias("m1"),
        (fsum(F.slice("ys", m + 1, m)) / float(m)).alias("m2"),
    )
    state0 = init.select(
        "event_type",
        "n_obs",
        "ys",
        F.concat(
            F.array(
                F.col("m1"),
                (F.col("m2") - F.col("m1")) / float(m),
                F.lit(1.0),
            ),
            F.transform(F.slice("ys", 1, m), lambda x: x - F.col("m1")),
        ).alias("s0"),
    )
    a_, oma = F.lit(float(HW_ALPHA)), F.lit(1.0 - HW_ALPHA)
    ab_, omab = F.lit(float(HW_AB)), F.lit(float(HW_OMAB))
    g1a, omg1a = F.lit(float(HW_G1A)), F.lit(float(HW_OMG1A))

    def step(acc, y):
        idx = F.element_at(acc, 3).cast("int")
        si = F.element_at(acc, idx + 3)
        return F.concat(
            F.array(
                a_ * (y - si) + oma * (F.element_at(acc, 1) + F.element_at(acc, 2)),
                ab_ * (y - si - F.element_at(acc, 1)) + omab * F.element_at(acc, 2),
                F.when(F.element_at(acc, 3) == float(m), F.lit(1.0)).otherwise(
                    F.element_at(acc, 3) + 1.0
                ),
            ),
            F.transform(
                F.sequence(F.lit(1), F.lit(m)),
                lambda k: F.when(
                    k == idx,
                    g1a * (y - F.element_at(acc, 1) - F.element_at(acc, 2)) + omg1a * si,
                ).otherwise(F.element_at(acc, (k + 3).cast("int"))),
            ),
        )

    st = F.aggregate(
        F.slice(
            F.col("ys"), 2 * m + 1, F.greatest(F.size("ys") - 2 * m, F.lit(0))
        ),
        F.col("s0"),
        step,
    )
    fitted = state0.select("event_type", "n_obs", st.alias("st"))
    fc_idx = (F.element_at("st", 3).cast("int") + 3).cast("int")
    return fitted.select(
        "event_type",
        "n_obs",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(F.element_at("st", 4), 6).alias("season_1"),
        F.round(
            F.element_at("st", 1) + F.element_at("st", 2) + F.element_at("st", fc_idx), 6
        ).alias("forecast_1"),
    ).orderBy("event_type")


@query(
    "events_shapley_attribution",
    oracle="""
    WITH flags AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    sets AS (
        SELECT hc * 4 + hs * 2 + hv AS s,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS k
        FROM flags GROUP BY hc * 4 + hs * 2 + hv
    ),
    v AS (
        SELECT COALESCE(MAX(CASE WHEN s = 0 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v0,
               COALESCE(MAX(CASE WHEN s = 1 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v1,
               COALESCE(MAX(CASE WHEN s = 2 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v2,
               COALESCE(MAX(CASE WHEN s = 3 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v3,
               COALESCE(MAX(CASE WHEN s = 4 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v4,
               COALESCE(MAX(CASE WHEN s = 5 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v5,
               COALESCE(MAX(CASE WHEN s = 6 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v6,
               COALESCE(MAX(CASE WHEN s = 7 THEN CAST(k AS DOUBLE) / n END), 0.0) AS v7
        FROM sets
    )
    SELECT channel, phi, v7 - v0 AS total_lift FROM (
        SELECT 'click' AS channel,
               (v4 - v0) / 3.0 + (v6 - v2) / 6.0 + (v5 - v1) / 6.0 + (v7 - v3) / 3.0 AS phi,
               v0, v7
        FROM v
        UNION ALL
        SELECT 'signup' AS channel,
               (v2 - v0) / 3.0 + (v6 - v4) / 6.0 + (v3 - v1) / 6.0 + (v7 - v5) / 3.0 AS phi,
               v0, v7
        FROM v
        UNION ALL
        SELECT 'view' AS channel,
               (v1 - v0) / 3.0 + (v5 - v4) / 6.0 + (v3 - v2) / 6.0 + (v7 - v6) / 3.0 AS phi,
               v0, v7
        FROM v
    ) t
    ORDER BY channel
    """,
    tags=("events", "analytics", "attribution"),
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution over three exposure
    channels (click/signup/view → purchase): the coalition value v(S)
    is the observed conversion rate of users whose exposure set is
    exactly S, and each channel's phi applies the closed-form 3-player
    Shapley weights (1/3 singleton and grand-coalition margins, 1/6
    middle margins). Complements the Markov-removal attribution
    operator with the game-theoretic axioms (efficiency: Σφ = v(N) −
    v(∅), surfaced as total_lift). One user-level groupBy, one 8-row
    coalition table, then constant-size arithmetic — exact at any
    corpus size; the 2^k coalition table only grows with CHANNELS, and
    the standard production answer beyond ~10 channels is sampled
    permutations over the same per-user exposure sets."""
    ev = load_table(spark, sf_dir, "events")
    flag = lambda t: F.max(F.when(F.col("event_type") == t, 1).otherwise(0))  # noqa: E731
    flags = ev.groupBy("user_id").agg(
        flag("click").alias("hc"),
        flag("signup").alias("hs"),
        flag("view").alias("hv"),
        flag("purchase").alias("conv"),
    )
    sets = flags.groupBy(
        (F.col("hc") * 4 + F.col("hs") * 2 + F.col("hv")).alias("s")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k"))
    sets = pin(sets)  # shared frame (scan-leaf lint)
    v = sets.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(F.col("s") == i, F.col("k").cast("double") / F.col("n"))
                ),
                F.lit(0.0),
            ).alias(f"v{i}")
            for i in range(8)
        ]
    )
    c = {i: F.col(f"v{i}") for i in range(8)}
    phis = {
        "click": (c[4] - c[0]) / 3.0 + (c[6] - c[2]) / 6.0 + (c[5] - c[1]) / 6.0 + (c[7] - c[3]) / 3.0,
        "signup": (c[2] - c[0]) / 3.0 + (c[6] - c[4]) / 6.0 + (c[3] - c[1]) / 6.0 + (c[7] - c[5]) / 3.0,
        "view": (c[1] - c[0]) / 3.0 + (c[5] - c[4]) / 6.0 + (c[3] - c[2]) / 6.0 + (c[7] - c[6]) / 3.0,
    }
    out = None
    for name, phi in phis.items():
        row = v.select(
            F.lit(name).alias("channel"),
            phi.alias("phi"),
            (c[7] - c[0]).alias("total_lift"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("channel")


QINI_LCG_A, QINI_LCG_B, QINI_LCG_P = 1_103_515_245, 12_345, 2_147_483_647
QINI_GRID = 40


@query(
    "events_qini_uplift",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               user_id % 2 AS t,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
               (({QINI_LCG_A} * user_id + {QINI_LCG_B}) % {QINI_LCG_P})
                   % {QINI_GRID} AS s
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT s,
               CAST(SUM(t) AS BIGINT) AS nt,
               CAST(COUNT(*) - SUM(t) AS BIGINT) AS nc,
               CAST(SUM(t * conv) AS BIGINT) AS kt,
               CAST(SUM((1 - t) * conv) AS BIGINT) AS kc
        FROM users GROUP BY s
    ),
    c AS (
        SELECT s,
               CAST(SUM(nt) OVER (ORDER BY s DESC) AS BIGINT) AS cum_nt,
               CAST(SUM(nc) OVER (ORDER BY s DESC) AS BIGINT) AS cum_nc,
               CAST(SUM(kt) OVER (ORDER BY s DESC) AS BIGINT) AS cum_kt,
               CAST(SUM(kc) OVER (ORDER BY s DESC) AS BIGINT) AS cum_kc
        FROM g
    )
    SELECT s, cum_nt, cum_nc, cum_kt, cum_kc,
           CASE WHEN cum_nc = 0 THEN CAST(cum_kt AS DOUBLE)
                ELSE CAST(cum_kt AS DOUBLE)
                     - CAST(cum_kc AS DOUBLE) * cum_nt / cum_nc END AS qini
    FROM c
    ORDER BY s DESC
    """,
    tags=("events", "analytics", "ml-eval"),
    uwin=(
        'quantized uplift-score grid (bounded thresholds)',
    ),
)
def events_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve: users split into deterministic treatment /
    control halves, ranked by a deterministic uplift score, and at each
    score threshold the incremental conversions attributable to
    treatment are cum_kt − cum_kc·(cum_nt/cum_nc) — the uplift
    modeler's gain chart, where the final row is the overall
    incremental effect and the curve's shape ranks the scoring model.
    Same scale lever as the ML-eval threshold metrics: one user-level
    groupBy, one score-grid groupBy, cumulative windows over the
    bounded threshold table."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    ).select(
        (F.col("user_id") % 2).alias("t"),
        "conv",
        (
            (F.lit(QINI_LCG_A).cast("bigint") * F.col("user_id") + QINI_LCG_B)
            % QINI_LCG_P
            % QINI_GRID
        ).alias("s"),
    )
    g = users.groupBy("s").agg(
        F.sum("t").alias("nt"),
        (F.count(F.lit(1)) - F.sum("t")).alias("nc"),
        F.sum(F.col("t") * F.col("conv")).alias("kt"),
        F.sum((1 - F.col("t")) * F.col("conv")).alias("kc"),
    )
    w = Window.orderBy(F.col("s").desc())
    c = g.select(
        "s",
        F.sum("nt").over(w).alias("cum_nt"),
        F.sum("nc").over(w).alias("cum_nc"),
        F.sum("kt").over(w).alias("cum_kt"),
        F.sum("kc").over(w).alias("cum_kc"),
    )
    qini = F.when(F.col("cum_nc") == 0, F.col("cum_kt").cast("double")).otherwise(
        F.col("cum_kt").cast("double")
        - F.col("cum_kc").cast("double") * F.col("cum_nt") / F.col("cum_nc")
    )
    return c.select("s", "cum_nt", "cum_nc", "cum_kt", "cum_kc", qini.alias("qini")).orderBy(
        F.col("s").desc()
    )


@query(
    "orders_bradley_terry",
    oracle="""
    WITH matches AS (
        SELECT CASE WHEN o1.o_totalprice > o2.o_totalprice
                    OR (o1.o_totalprice = o2.o_totalprice
                        AND o1.o_orderkey < o2.o_orderkey)
                    THEN o1.o_orderpriority ELSE o2.o_orderpriority END AS winner,
               LEAST(o1.o_orderpriority, o2.o_orderpriority) AS li,
               GREATEST(o1.o_orderpriority, o2.o_orderpriority) AS gi
        FROM orders o1 JOIN orders o2
          ON o1.o_custkey = o2.o_custkey AND o1.o_orderkey < o2.o_orderkey
         AND o1.o_orderpriority <> o2.o_orderpriority
    ),
    wins AS (SELECT winner AS item, CAST(COUNT(*) AS BIGINT) AS w FROM matches GROUP BY winner),
    pair_games AS (
        SELECT li, gi, CAST(COUNT(*) AS BIGINT) AS g FROM matches GROUP BY li, gi
    ),
    games AS (
        SELECT item, CAST(SUM(g) AS BIGINT) AS g_tot FROM (
            SELECT li AS item, g FROM pair_games
            UNION ALL
            SELECT gi AS item, g FROM pair_games
        ) t GROUP BY item
    ),
    w1 AS (
        SELECT g.item, COALESCE(w.w, 0) AS wins, g.g_tot,
               2.0 * COALESCE(w.w, 0) / g.g_tot AS r1
        FROM games g LEFT JOIN wins w ON g.item = w.item
    ),
    denom2 AS (
        SELECT item,
               CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12))) AS DOUBLE) AS dn
        FROM (
            SELECT p.li AS item, CAST(p.g AS DOUBLE) / (a.r1 + b.r1) AS term
            FROM pair_games p
            JOIN w1 a ON p.li = a.item JOIN w1 b ON p.gi = b.item
            UNION ALL
            SELECT p.gi AS item, CAST(p.g AS DOUBLE) / (a.r1 + b.r1) AS term
            FROM pair_games p
            JOIN w1 a ON p.li = a.item JOIN w1 b ON p.gi = b.item
        ) t GROUP BY item
    ),
    w2 AS (
        SELECT w1.item, w1.wins, w1.g_tot, w1.wins / denom2.dn AS r2
        FROM w1 JOIN denom2 ON w1.item = denom2.item
    ),
    norm AS (
        SELECT CAST(SUM(CAST(round(r2, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s FROM w2
    )
    SELECT w2.item, w2.wins, w2.g_tot AS games, w2.r2 / norm.s AS rating
    FROM w2 CROSS JOIN norm
    ORDER BY w2.item
    """,
    tags=("analytics", "ranking"),
)
def orders_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise-preference ratings (the model under Elo,
    RLHF reward modeling, and LLM arena leaderboards), fit with two
    minorization-maximization iterations over priorities: matches are
    same-customer order pairs, winner = higher order value. The corpus
    work is one blocked self-join (customer-keyed, bounded per-customer
    fan-out) reduced immediately to item-pair win/game counts; both MM
    iterations then run on the items²-sized table, so fitting cost is
    independent of match volume. Per-item sums of rational terms go
    through round-12 decimals to stay order-independent."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    win1 = (F.col("o1.o_totalprice") > F.col("o2.o_totalprice")) | (
        (F.col("o1.o_totalprice") == F.col("o2.o_totalprice"))
        & (F.col("o1.o_orderkey") < F.col("o2.o_orderkey"))
    )
    matches = o1.join(
        o2,
        (F.col("o1.o_custkey") == F.col("o2.o_custkey"))
        & (F.col("o1.o_orderkey") < F.col("o2.o_orderkey"))
        & (F.col("o1.o_orderpriority") != F.col("o2.o_orderpriority")),
    ).select(
        F.when(win1, F.col("o1.o_orderpriority"))
        .otherwise(F.col("o2.o_orderpriority"))
        .alias("winner"),
        F.least("o1.o_orderpriority", "o2.o_orderpriority").alias("li"),
        F.greatest("o1.o_orderpriority", "o2.o_orderpriority").alias("gi"),
    )
    # One items²-bounded reduction of the match self-join (≤5
    # priorities → ≤20 (li,gi,winner) rows), pinned: every MM step
    # derives from it, and without the pin Catalyst re-derives the
    # orders self-join per consumer (the plan read 68 parquet-scan
    # leaves). The expensive corpus self-join now runs exactly once.
    tri = pin(matches.groupBy("li", "gi", "winner").agg(
        F.count(F.lit(1)).alias("c")
    ))
    wins = tri.groupBy(F.col("winner").alias("item")).agg(F.sum("c").alias("w"))
    pair_games = tri.groupBy("li", "gi").agg(F.sum("c").alias("g"))
    games = (
        pair_games.select(F.col("li").alias("item"), "g")
        .unionByName(pair_games.select(F.col("gi").alias("item"), "g"))
        .groupBy("item")
        .agg(F.sum("g").alias("g_tot"))
    )
    w1 = games.join(wins, "item", "left").select(
        "item",
        F.coalesce("w", F.lit(0)).alias("wins"),
        "g_tot",
        (2.0 * F.coalesce("w", F.lit(0)) / F.col("g_tot")).alias("r1"),
    )
    pg = (
        pair_games.join(w1.select(F.col("item").alias("li"), F.col("r1").alias("ra")), "li")
        .join(w1.select(F.col("item").alias("gi"), F.col("r1").alias("rb")), "gi")
        .select("li", "gi", (F.col("g").cast("double") / (F.col("ra") + F.col("rb"))).alias("term"))
    )
    denom2 = (
        pg.select(F.col("li").alias("item"), "term")
        .unionByName(pg.select(F.col("gi").alias("item"), "term"))
        .groupBy("item")
        .agg(F.sum(F.round("term", 12).cast("decimal(38,12)")).cast("double").alias("dn"))
    )
    w2 = w1.join(denom2, "item").select(
        "item", "wins", "g_tot", (F.col("wins") / F.col("dn")).alias("r2")
    )
    norm = w2.agg(
        F.sum(F.round("r2", 12).cast("decimal(38,12)")).cast("double").alias("s")
    )
    return (
        w2.crossJoin(F.broadcast(norm))
        .select("item", "wins", F.col("g_tot").alias("games"), (F.col("r2") / F.col("s")).alias("rating"))
        .orderBy("item")
    )


@query(
    "events_markov_next_accuracy",
    oracle="""
    WITH ordered_ev AS (
        SELECT user_id, event_type AS cur, ts, event_id,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    trans AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        FROM ordered_ev WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    pred AS (
        SELECT cur, nxt AS predicted_next, c AS n_correct,
               ROW_NUMBER() OVER (PARTITION BY cur ORDER BY c DESC, nxt ASC) AS rn
        FROM trans
    ),
    tot AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS n_total FROM trans GROUP BY cur)
    SELECT p.cur, p.predicted_next, t.n_total, p.n_correct,
           CAST(p.n_correct AS DOUBLE) / t.n_total AS accuracy
    FROM pred p JOIN tot t ON p.cur = t.cur
    WHERE p.rn = 1
    ORDER BY p.cur
    """,
    tags=("events", "analytics", "ml-eval"),
)
def events_markov_next_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction accuracy of the first-order Markov
    baseline: learn argmax transitions from per-user ordered event
    streams, report each state's most-likely successor and the
    fraction of observed transitions it explains — the sanity floor
    any sequence model must beat. Per-user lead window, one grouped
    count, a rank window on the states²-sized transition table; pure
    integer ratios."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered_ev = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    )
    trans = (
        ordered_ev.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("cur").orderBy(F.col("c").desc(), F.col("nxt").asc())
    pred = trans.select(
        "cur",
        F.col("nxt").alias("predicted_next"),
        F.col("c").alias("n_correct"),
        F.row_number().over(wp).alias("rn"),
    ).filter(F.col("rn") == 1)
    tot = trans.groupBy("cur").agg(F.sum("c").alias("n_total"))
    return (
        pred.join(tot, "cur")
        .select(
            "cur",
            "predicted_next",
            "n_total",
            "n_correct",
            (F.col("n_correct").cast("double") / F.col("n_total")).alias("accuracy"),
        )
        .orderBy("cur")
    )


BACKTEST_ORIGINS = 5  # rolling-origin holdouts: cut the last k points


@query(
    "events_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    series AS (
        SELECT event_type, count(*) AS n_obs, list(y ORDER BY day) AS ys
        FROM daily GROUP BY event_type
    ),
    origins AS (
        SELECT event_type, n_obs, ys, CAST(k AS BIGINT) AS origin_cut
        FROM series, UNNEST(range(1, {BACKTEST_ORIGINS + 1})) AS t(k)
        WHERE n_obs > k + 1
    ),
    fitted AS (
        SELECT event_type, n_obs, origin_cut,
               list_reduce(
                   list_transform(ys[1:len(ys) - CAST(origin_cut AS INT)],
                                  x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)]),
                   (acc, x) -> [
                       {HOLT_ALPHA} * x[1] + (1 - {HOLT_ALPHA}) * (acc[1] + acc[2]),
                       {HOLT_AB!r} * (x[1] - acc[1]) + {HOLT_OMB!r} * acc[2]
                   ]) AS st,
               ys[len(ys) - CAST(origin_cut AS INT) + 1] AS actual
        FROM origins
    )
    SELECT event_type, origin_cut,
           round(st[1] + st[2], 6) AS forecast_1,
           round(actual, 6) AS actual,
           round(ABS(st[1] + st[2] - actual), 6) AS abs_err
    FROM fitted
    ORDER BY event_type, origin_cut
    """,
    tags=("events", "analytics", "timeseries", "ml-eval"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtesting: for each of the last five
    origins, refit the Holt level+trend fold on the truncated prefix
    and score the one-step forecast against the held-out actual — the
    evaluation protocol (a.k.a. time-series cross-validation) that
    justifies a forecasting model before anyone trusts its intervals.
    The origin fan-out is a 5× explode of the per-key series array;
    each refit is the same sequential array-local fold as the Holt
    operator on a shorter prefix, so backtesting K origins costs K
    folds over bounded arrays — no re-shuffle of the raw events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
    )
    origins = series.select(
        "event_type",
        "n_obs",
        "ys",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.lit(BACKTEST_ORIGINS).cast("bigint"))).alias(
            "origin_cut"
        ),
    ).filter(F.col("n_obs") > F.col("origin_cut") + 1)
    a = F.lit(float(HOLT_ALPHA))
    ab, omb = F.lit(float(HOLT_AB)), F.lit(float(HOLT_OMB))
    train_len = (F.size("ys") - F.col("origin_cut")).cast("int")
    st = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(train_len - 1, F.lit(0))),
        F.array(F.element_at("ys", 1), F.lit(0.0)),
        lambda acc, x: F.array(
            a * x + (F.lit(1.0) - a) * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            ab * (x - F.element_at(acc, 1)) + omb * F.element_at(acc, 2),
        ),
    )
    fitted = origins.select(
        "event_type",
        "origin_cut",
        st.alias("st"),
        F.element_at("ys", (F.size("ys") - F.col("origin_cut") + 1).cast("int")).alias(
            "actual"
        ),
    )
    fc = F.element_at("st", 1) + F.element_at("st", 2)
    return fitted.select(
        "event_type",
        "origin_cut",
        F.round(fc, 6).alias("forecast_1"),
        F.round("actual", 6).alias("actual"),
        F.round(F.abs(fc - F.col("actual")), 6).alias("abs_err"),
    ).orderBy("event_type", "origin_cut")


@query(
    "events_cohort_ltv",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    cohorted AS (
        SELECT e.user_id,
               CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
               CAST(FLOOR(CAST(date_diff('day', CAST(f.first_ts AS DATE),
                                         CAST(e.ts AS DATE)) AS DOUBLE) / 7)
                    AS BIGINT) AS age_weeks,
               e.value
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
    ),
    cells AS (
        SELECT cohort_week, age_weeks,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               {sql_dsum("value", "revenue")}
        FROM cohorted GROUP BY cohort_week, age_weeks
    ),
    sizes AS (
        SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
               CAST(COUNT(*) AS BIGINT) AS cohort_users
        FROM firsts GROUP BY 1
    )
    SELECT c.cohort_week, c.age_weeks, s.cohort_users, c.n_purchases, c.revenue,
           CAST(SUM(CAST(c.revenue AS DECIMAL(28,6)))
                    OVER (PARTITION BY c.cohort_week ORDER BY c.age_weeks)
                AS DOUBLE) / s.cohort_users AS cum_ltv_per_user
    FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
    ORDER BY c.cohort_week, c.age_weeks
    """,
    tags=("events", "analytics"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week,
    purchase revenue accumulated by cohort age in weeks, normalized
    per cohort user — the table behind every LTV/payback chart, and the
    revenue-side sibling of the retention-matrix operator. One
    first-event groupBy, one cohort-cell aggregation, and a cumulative
    window over the months-sized cell table; revenue goes through exact
    decimals at both the cell and cumulative levels."""
    ev = load_table(spark, sf_dir, "events")
    firsts = pin(ev.groupBy("user_id").agg(F.min("ts").alias("first_ts")))
    cohorted = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            F.date_trunc("week", "first_ts").cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("first_ts").cast("date"))
                .cast("double")
                / 7
            ).cast("bigint").alias("age_weeks"),
            "value",
        )
    )
    from supabase_etl_spark.queries._helpers import dsum
    cells = cohorted.groupBy("cohort_week", "age_weeks").agg(
        F.count(F.lit(1)).alias("n_purchases"), dsum(F.col("value"), "revenue")
    )
    sizes = firsts.groupBy(
        F.date_trunc("week", "first_ts").cast("date").alias("cohort_week")
    ).agg(F.count(F.lit(1)).alias("cohort_users"))
    wcum = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return (
        cells.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "cohort_users",
            "n_purchases",
            "revenue",
            (
                F.sum(F.col("revenue").cast("decimal(28,6)")).over(wcum).cast("double")
                / F.col("cohort_users")
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


@query(
    "events_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS pnl
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    curve AS (
        SELECT event_type, day,
               CAST(SUM(CAST(pnl AS DECIMAL(28,6)))
                        OVER (PARTITION BY event_type ORDER BY day)
                    AS DOUBLE) AS equity
        FROM daily
    ),
    dd AS (
        SELECT event_type, day, equity,
               MAX(equity) OVER (PARTITION BY event_type ORDER BY day) AS peak
        FROM curve
    )
    SELECT event_type,
           MAX(peak - equity) AS max_drawdown,
           MAX(CASE WHEN peak > 0 THEN (peak - equity) / peak ELSE 0.0 END)
               AS max_drawdown_frac,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM dd
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series: running-peak-minus-equity over the
    cumulative daily curve, absolute and as a fraction of the peak —
    the risk statistic every backtest and SLO burn-down chart reports.
    Two per-key cumulative windows (equity, running peak) over exact
    decimal daily sums, then a grouped max; drawdown differences are
    doubles both engines derive from identical exact prefixes."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("pnl"))
    wcum = Window.partitionBy("event_type").orderBy("day")
    curve = daily.select(
        "event_type",
        "day",
        F.sum(F.col("pnl").cast("decimal(28,6)")).over(wcum).cast("double").alias("equity"),
    )
    dd = curve.withColumn("peak", F.max("equity").over(wcum))
    return (
        dd.groupBy("event_type")
        .agg(
            F.max(F.col("peak") - F.col("equity")).alias("max_drawdown"),
            F.max(
                F.when(
                    F.col("peak") > 0, (F.col("peak") - F.col("equity")) / F.col("peak")
                ).otherwise(F.lit(0.0))
            ).alias("max_drawdown_frac"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("event_type")
    )


CIRC_2PI_OVER_24 = 0.2617993877991494  # 2*pi/24, shared literal


@query(
    "events_circular_mean_hour",
    oracle=f"""
    WITH angles AS (
        SELECT event_type,
               CAST(date_part('hour', ts) AS BIGINT) AS hr
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(sin(hr * {CIRC_2PI_OVER_24}), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS ss,
               CAST(SUM(CAST(round(cos(hr * {CIRC_2PI_OVER_24}), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS sc
        FROM angles GROUP BY event_type
    )
    SELECT event_type, n,
           round(atan2(ss, sc) / {CIRC_2PI_OVER_24}, 6) AS mean_hour,
           round(sqrt(ss * ss + sc * sc) / n, 9) AS concentration
    FROM sums
    ORDER BY event_type
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_circular_mean_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean of event hour-of-day per type, with the resultant
    vector length as concentration — the statistic a naive arithmetic
    mean of hours gets WRONG (23:00 and 01:00 average to midnight on
    the circle, not noon). Hours map to unit-circle angles; sin/cos
    sums go through round-12 decimals (the transcendental-sum
    discipline), and the atan2 back-map divides by the same shared 2π/24
    literal. One grouped pass; output is type-cardinality-sized."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.hour("ts").cast("bigint")
    angles = ev.select("event_type", hr.alias("hr"))
    sums = angles.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.sin(F.col("hr") * CIRC_2PI_OVER_24), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss"),
        F.sum(F.round(F.cos(F.col("hr") * CIRC_2PI_OVER_24), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sc"),
    )
    return sums.select(
        "event_type",
        "n",
        F.round(F.atan2(F.col("ss"), F.col("sc")) / CIRC_2PI_OVER_24, 6).alias("mean_hour"),
        F.round(
            F.sqrt(F.col("ss") * F.col("ss") + F.col("sc") * F.col("sc")) / F.col("n"), 9
        ).alias("concentration"),
    ).orderBy("event_type")


@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH ordered_ev AS (
        SELECT user_id, event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    trans AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        FROM ordered_ev WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    row_tot AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS rc FROM trans GROUP BY cur),
    grand AS (SELECT CAST(SUM(c) AS BIGINT) AS g FROM trans),
    terms AS (
        SELECT t.cur, t.nxt,
               (CAST(r.rc AS DOUBLE) / g.g)
                   * (CAST(t.c AS DOUBLE) / r.rc)
                   * (-ln(CAST(t.c AS DOUBLE) / r.rc)) AS term
        FROM trans t JOIN row_tot r ON t.cur = r.cur CROSS JOIN grand g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions_distinct,
           CAST(SUM(CAST(round(term, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS entropy_rate_nats
    FROM terms
    ORDER BY n_transitions_distinct
    """,
    tags=("events", "analytics"),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order event Markov chain,
    H = Σᵢ πᵢ Σⱼ −pᵢⱼ ln pᵢⱼ with the stationary weight πᵢ estimated by
    observed occupancy — how predictable user behavior is in nats per
    step (0 = deterministic flows; ln(types) = uniform chaos), the
    information-theoretic summary over the same transition table as
    the Markov baseline ops. Per-user lead pass, states²-sized table,
    round-12 decimal ln-term sums."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered_ev = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    )
    trans = (
        ordered_ev.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    trans = pin(trans)  # shared frame (scan-leaf lint)
    row_tot = trans.groupBy("cur").agg(F.sum("c").alias("rc"))
    grand = trans.agg(F.sum("c").alias("g"))
    p = F.col("c").cast("double") / F.col("rc")
    term = (F.col("rc").cast("double") / F.col("g")) * p * (-F.log(p))
    return (
        trans.join(F.broadcast(row_tot), "cur")
        .crossJoin(F.broadcast(grand))
        .select(term.alias("term"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions_distinct"),
            F.sum(F.round("term", 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("entropy_rate_nats"),
        )
        .orderBy("n_transitions_distinct")
    )


@query(
    "events_did_estimator",
    oracle="""
    WITH labeled AS (
        SELECT user_id % 2 AS treat,
               CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 ELSE 0 END AS post,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
        SELECT treat, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_y
        FROM labeled GROUP BY treat, post
    ),
    wide AS (
        SELECT MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_y END) AS t_post,
               MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_y END) AS t_pre,
               MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_y END) AS c_post,
               MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_y END) AS c_pre,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM cells
    )
    SELECT n_total, t_pre, t_post, c_pre, c_post,
           (t_post - t_pre) - (c_post - c_pre) AS did_estimate
    FROM wide
    ORDER BY n_total
    """,
    tags=("events", "analytics", "ml-eval"),
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 (treatment × pre/post) cell
    means of purchase value and the DiD estimate (Δtreat − Δcontrol) —
    the workhorse causal design when randomization isn't available and
    parallel trends are plausible; completes the causal family next to
    the IPW and uplift operators. One grouped pass to four cells with
    exact decimal means, then constant arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    labeled = ev.select(
        (F.col("user_id") % 2).alias("treat"),
        F.when(F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"), 1)
        .otherwise(0)
        .alias("post"),
        "value",
    )
    cells = labeled.groupBy("treat", "post").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("value").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_y"
        ),
    )
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("mean_y"))
    )
    wide = cells.agg(
        pick(1, 1).alias("t_post"),
        pick(1, 0).alias("t_pre"),
        pick(0, 1).alias("c_post"),
        pick(0, 0).alias("c_pre"),
        F.sum("n").alias("n_total"),
    )
    return wide.select(
        "n_total",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))).alias(
            "did_estimate"
        ),
    ).orderBy("n_total")


@query(
    "events_rolling_slope",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    win AS (
        SELECT event_type, day, t, y,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(t) OVER w AS BIGINT) AS st,
               CAST(SUM(t * t) OVER w AS BIGINT) AS stt,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sy,
               CAST(SUM(CAST(t * y AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sty
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY t
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, n,
           CASE WHEN n * stt - st * st = 0 THEN 0.0
                ELSE round((n * sty - st * sy) / (n * stt - st * st), 9) END
               AS slope_7d
    FROM win
    ORDER BY event_type, day
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day least-squares slope of each series — the rolling
    trend detector dashboards shade green/red with. The regression
    moments (n, Σt, Σt², Σy, Σty) accumulate in one RANGE-framed window
    pass over the daily rollup with decimal-exact y-sums; the slope is
    the closed form on five frame scalars, zero-guarded for degenerate
    frames. Per-key windows over days-per-key rows — the corpus is
    touched once by the rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y")).select(
        "event_type",
        "day",
        F.datediff("day", F.lit("2024-01-01").cast("date")).cast("bigint").alias("t"),
        "y",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rangeBetween(-6, 0)
    )
    win = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("t").over(w).alias("st"),
        F.sum(F.col("t") * F.col("t")).over(w).alias("stt"),
        F.sum(F.col("y").cast("decimal(28,6)")).over(w).cast("double").alias("sy"),
        F.sum((F.col("t") * F.col("y")).cast("decimal(28,6)")).over(w).cast("double").alias("sty"),
    )
    den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    slope = F.when(den == 0, F.lit(0.0)).otherwise(
        F.round((F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / den, 9)
    )
    return win.select("event_type", "day", "n", slope.alias("slope_7d")).orderBy(
        "event_type", "day"
    )


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    ends_ AS (
        SELECT du.d AS x, dv.d AS y
        FROM adj JOIN deg du ON adj.u = du.node JOIN deg dv ON adj.v = dv.node
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM ends_
    )
    SELECT m AS n_directed_edges,
           round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 9)
               AS assortativity
    FROM s
    ORDER BY n_directed_edges
    """,
    tags=("graph", "analytics"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over the directed edge list —
    positive means hubs attach to hubs (social-network shape), negative
    means hub-and-spoke (technological/star shape); it decides whether
    hub-salting or degree-capping is the right skew control for the
    pair stages. All five moments are exact integer sums over edges;
    one closed-form correlation at the end."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = pin(
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # multi-consumer edge list: pin once (scan-leaf lint) — without
        # it the basket self-join re-runs per consumer
    )
    adj = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    ends = (
        adj.join(deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v")
        .select("x", "y")
    )
    s = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = (
        F.col("m").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / F.sqrt(
        (F.col("m").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("m").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        F.col("m").alias("n_directed_edges"), F.round(r, 9).alias("assortativity")
    ).orderBy("n_directed_edges")


@query(
    "graph_modularity_by_brand",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    labeled AS (
        SELECT e.u, e.v, pu.p_brand AS cu, pv.p_brand AS cv
        FROM edges e
        JOIN part pu ON e.u = pu.p_partkey
        JOIN part pv ON e.v = pv.p_partkey
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM labeled),
    within AS (
        SELECT cu AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM labeled WHERE cu = cv GROUP BY cu
    ),
    degsum AS (
        SELECT community, CAST(SUM(cnt) AS BIGINT) AS d_c FROM (
            SELECT cu AS community, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM labeled GROUP BY cu
            UNION ALL
            SELECT cv AS community, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM labeled GROUP BY cv
        ) t GROUP BY community
    )
    SELECT d.community,
           COALESCE(w.e_in, 0) AS edges_within,
           d.d_c AS degree_mass,
           CAST(COALESCE(w.e_in, 0) AS DOUBLE) / m.m
               - (CAST(d.d_c AS DOUBLE) / (2.0 * m.m))
                 * (CAST(d.d_c AS DOUBLE) / (2.0 * m.m)) AS q_term
    FROM degsum d
    LEFT JOIN within w ON d.community = w.community
    CROSS JOIN m
    ORDER BY d.community
    """,
    tags=("graph", "analytics"),
)
def graph_modularity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of an ATTRIBUTE partition: does the
    co-purchase graph cluster by part brand? Per community,
    Q-term = e_c/m − (d_c/2m)² from exact within-edge and degree-mass
    counts (Σ terms is the graph's modularity; near zero means brand
    does NOT explain the topology — the null-model check to run before
    trusting any community detector's labels). Edge-sized joins to the
    broadcast part dim, then community-cardinality arithmetic."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = pin(
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # multi-consumer edge list: pin once (scan-leaf lint) — without
        # it the basket self-join re-runs per consumer
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    labeled = pin(
        edges.join(
            F.broadcast(part.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("cu"))),
            "u",
        )
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("cv"))),
            "v",
        )
        # 4 consumers (m, within, both degsum legs): pin or the part
        # broadcasts re-scan per consumer (scan-leaf lint)
    )
    m = labeled.agg(F.count(F.lit(1)).alias("m"))
    within = (
        labeled.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    degsum = (
        labeled.groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .unionByName(
            labeled.groupBy(F.col("cv").alias("community")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        )
        .groupBy("community")
        .agg(F.sum("cnt").alias("d_c"))
    )
    frac = F.col("d_c").cast("double") / (F.lit(2.0) * F.col("m"))
    return (
        degsum.join(within, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.coalesce("e_in", F.lit(0)).alias("edges_within"),
            F.col("d_c").alias("degree_mass"),
            (
                F.coalesce("e_in", F.lit(0)).cast("double") / F.col("m") - frac * frac
            ).alias("q_term"),
        )
        .orderBy("community")
    )


@query(
    "events_peak_concurrency",
    oracle="""
    WITH presence AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    endpoints AS (
        SELECT day, start_ts AS at_ts, 1 AS delta, user_id FROM presence
        UNION ALL
        SELECT day, end_ts AS at_ts, -1 AS delta, user_id FROM presence
    ),
    swept AS (
        SELECT day, at_ts,
               CAST(SUM(delta) OVER (PARTITION BY day
                   ORDER BY at_ts, delta DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS concurrent
        FROM endpoints
    ),
    peaks AS (
        SELECT day, MAX(concurrent) AS peak FROM swept GROUP BY day
    )
    SELECT p.day, p.peak,
           MIN(s.at_ts) AS first_peak_ts
    FROM peaks p JOIN swept s ON p.day = s.day AND s.concurrent = p.peak
    GROUP BY p.day, p.peak
    ORDER BY p.day
    """,
    tags=("events", "analytics", "sessions"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the meeting-rooms sweep: each user's
    daily presence interval contributes +1 at its start and −1 at its
    end, a running sum over the day-partitioned endpoint stream finds
    the maximum simultaneous users, and the first instant it is reached.
    The tie rule (starts before ends at the same timestamp → inclusive
    overlap) is pinned into the ORDER BY so both engines sweep
    identically. Endpoints are 2 rows per (user, day) — the sweep
    windows are day-partitioned, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    presence = pin(ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    ))  # 2 union legs + sweep (scan-leaf lint)
    endpoints = presence.select(
        "day", F.col("start_ts").alias("at_ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        presence.select(
            "day", F.col("end_ts").alias("at_ts"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("at_ts").asc(), F.col("delta").desc(), F.col("user_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = endpoints.select("day", "at_ts", F.sum("delta").over(w).alias("concurrent"))
    peaks = swept.groupBy("day").agg(F.max("concurrent").alias("peak"))
    return (
        swept.join(peaks, "day")
        .filter(F.col("concurrent") == F.col("peak"))
        .groupBy("day", "peak")
        .agg(F.min("at_ts").alias("first_peak_ts"))
        .orderBy("day")
    )


@query(
    "events_stickiness_ratio",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ),
    cover AS (
        SELECT CAST(day + CAST(k AS INT) AS DATE) AS wday, user_id
        FROM du, UNNEST(range(0, 7)) AS t(k)
    ),
    wau AS (
        SELECT wday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM cover GROUP BY wday
    )
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    ORDER BY d.day
    """,
    tags=("events", "analytics"),
)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product teams
    track (1.0 = every weekly user shows up daily). The trailing-7-day
    distinct count uses the covering-days explode (each active day
    contributes itself to the next 7 window anchors), the same
    shuffle-bounded rewrite as the sliding-distinct operator — a 7×
    fan-out of (day, user) rows, never a per-day rescan."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cover = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"), "day", "user_id"
    ).select(F.date_add("day", F.col("k")).alias("day"), "user_id")
    wau = cover.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select("day", "dau", "wau", (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"))
        .orderBy("day")
    )


@query(
    "orders_littles_law_audit",
    oracle="""
    WITH spans AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS start_d,
               MAX(CAST(l.l_shipdate AS DATE)) AS end_d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ),
    horizon AS (
        SELECT MIN(start_d) AS d0, MAX(end_d) AS d1,
               CAST(date_diff('day', MIN(start_d), MAX(end_d)) + 1 AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(date_diff('day', start_d, end_d) + 1) AS BIGINT) AS order_days
        FROM spans
    )
    SELECT n_orders, n_days,
           CAST(n_orders AS DOUBLE) / n_days AS lambda_per_day,
           CAST(order_days AS DOUBLE) / n_orders AS w_days,
           (CAST(n_orders AS DOUBLE) / n_days) * (CAST(order_days AS DOUBLE) / n_orders)
               AS l_littles,
           CAST(order_days AS DOUBLE) / n_days AS l_time_avg
    FROM horizon
    ORDER BY n_orders
    """,
    tags=("analytics", "ops"),
)
def orders_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit over the order lifecycle: arrival rate λ
    (orders/day over the horizon), mean time-in-system W (order date →
    last line shipped, inclusive), and the two sides of L = λ·W — the
    queueing identity every ops dashboard should reconcile; here the
    identity holds EXACTLY because both sides reduce to the same
    Σ order-days (the algebra is surfaced, not assumed). One fact-dim
    groupBy to per-order spans, then constant-size arithmetic on four
    exact integers."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("start_d"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("end_d"))
    )
    horizon = spans.agg(
        (F.datediff(F.max("end_d"), F.min("start_d")) + 1).cast("bigint").alias("n_days"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.datediff("end_d", "start_d") + 1).cast("bigint").alias("order_days"),
    )
    lam = F.col("n_orders").cast("double") / F.col("n_days")
    w = F.col("order_days").cast("double") / F.col("n_orders")
    return horizon.select(
        "n_orders",
        "n_days",
        lam.alias("lambda_per_day"),
        w.alias("w_days"),
        (lam * w).alias("l_littles"),
        (F.col("order_days").cast("double") / F.col("n_days")).alias("l_time_avg"),
    ).orderBy("n_orders")


@query(
    "events_nelson_aalen",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
               max(ts) AS last_seen
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT CASE WHEN first_purchase IS NOT NULL
                    THEN CAST(floor((epoch_us(first_purchase) - epoch_us(first_seen))
                                    / 3600000000.0) AS BIGINT)
                    ELSE CAST(floor((epoch_us(last_seen) - epoch_us(first_seen))
                                    / 3600000000.0) AS BIGINT)
               END AS t_obs,
               (first_purchase IS NOT NULL) AS is_event
        FROM per_user
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs),
    drops AS (SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS leaving FROM obs GROUP BY t_obs),
    events_t AS (
        SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS d
        FROM obs WHERE is_event GROUP BY t_obs
    ),
    risk AS (
        SELECT e.t, e.d,
               tot.n_total
               - COALESCE(SUM(dr.leaving) OVER (ORDER BY e.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM events_t e
        LEFT JOIN drops dr ON e.t = dr.t
        CROSS JOIN tot
    ),
    na AS (
        SELECT t, d, n_risk,
               SUM(CAST(d AS DOUBLE) / n_risk)
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS h,
               SUM(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS v
        FROM risk
    )
    SELECT t AS hours, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, round(h, 6) AS cum_hazard, round(v, 9) AS hazard_var
    FROM na
    ORDER BY hours
    """,
    tags=("events", "analytics", "survival"),
    uwin=(
        'distinct integer-hour event-time grid (<= timeline hours)',
        'distinct integer-hour event-time grid (<= timeline hours)',
    ),
)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator, the additive twin of
    events_kaplan_meier over the same time-to-first-purchase
    observations: H(t) = sum over event times t_i <= t of d_i/n_i,
    with the Poisson variance estimate sum d_i/n_i^2. Unlike KM's
    product limit, the hazard is a plain running sum of rational
    doubles, so no log detour is needed: both engines accumulate the
    identical IEEE terms in the identical window order. Scale: the
    user-grouped pass is the only corpus-sized stage; the hazard
    windows run over distinct-duration rows."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.max("ts").alias("last_seen"),
    )
    dur = F.floor(
        (F.unix_micros("first_purchase") - F.unix_micros("first_seen"))
        / F.lit(3600000000.0)
    )
    cens = F.floor(
        (F.unix_micros("last_seen") - F.unix_micros("first_seen"))
        / F.lit(3600000000.0)
    )
    obs = per_user.select(
        F.when(F.col("first_purchase").isNotNull(), dur)
        .otherwise(cens)
        .cast("bigint")
        .alias("t_obs"),
        F.col("first_purchase").isNotNull().alias("is_event"),
    )
    obs = pin(obs)  # shared frame (scan-leaf lint)
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    drops = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaving")
    )
    events_t = (
        obs.filter("is_event")
        .groupBy(F.col("t_obs").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        events_t.join(drops, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d",
            (
                F.col("n_total")
                - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
            ).alias("n_risk"),
        )
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        F.col("t").alias("hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.round(
            F.sum(F.col("d").cast("double") / F.col("n_risk")).over(wcum), 6
        ).alias("cum_hazard"),
        F.round(
            F.sum(
                F.col("d").cast("double")
                / (F.col("n_risk").cast("double") * F.col("n_risk"))
            ).over(wcum),
            9,
        ).alias("hazard_var"),
    ).orderBy("hours")


# Wilson score interval: z_{0.975} and its square as shared literals so
# both engines parse bit-identical doubles (bare numeric literals would
# parse as DECIMAL and diverge).
WILSON_Z = "1.9599639845400536"
WILSON_Z2 = "3.8414588206941236"


@query(
    "events_wilson_ci",
    oracle=f"""
    WITH conv AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM events GROUP BY event_type
    ),
    w AS (
        SELECT event_type, n, s,
               CAST(s AS DOUBLE) / n AS p_hat,
               CAST({WILSON_Z} AS DOUBLE) AS z,
               CAST({WILSON_Z2} AS DOUBLE) AS z2
        FROM conv
    )
    SELECT event_type, n, s, round(p_hat, 9) AS p_hat,
           round((p_hat + z2 / (2 * n)
                  - z * SQRT(p_hat * (1 - p_hat) / n + z2 / (4.0 * n * n)))
                 / (1 + z2 / n), 9) AS ci_low,
           round((p_hat + z2 / (2 * n)
                  + z * SQRT(p_hat * (1 - p_hat) / n + z2 / (4.0 * n * n)))
                 / (1 + z2 / n), 9) AS ci_high
    FROM w
    ORDER BY event_type
    """,
    tags=("events", "analytics", "stats"),
)
def events_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval for the per-event-type
    conversion rate (value > 50), the interval every A/B dashboard
    should use instead of the Wald CI that collapses at small n or
    extreme p. One grouped count pass; the interval arithmetic is
    per-group scalar math on (n, s) — z embedded as a shared literal,
    sqrt IEEE-correctly-rounded — so both engines produce bit-identical
    bounds before the cosmetic round-9. Scale: output is
    event-type-sized; the corpus pass is one map-side-combined count."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("bigint").alias("s"),
    )
    z = F.lit(float(WILSON_Z))
    z2 = F.lit(float(WILSON_Z2))
    n = F.col("n").cast("double")
    p = F.col("s").cast("double") / F.col("n")
    center = p + z2 / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    denom = 1 + z2 / n
    return conv.select(
        "event_type",
        "n",
        "s",
        F.round(p, 9).alias("p_hat"),
        F.round((center - half) / denom, 9).alias("ci_low"),
        F.round((center + half) / denom, 9).alias("ci_high"),
    ).orderBy("event_type")


@query(
    "events_lifecycle_accounting",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS wk
        FROM events
    ),
    seq AS (
        SELECT user_id, wk,
               LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
        FROM uw
    ),
    weekly AS (
        SELECT wk,
               CAST(COUNT(*) AS BIGINT) AS active,
               CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM seq GROUP BY wk
    )
    SELECT wk AS week, active, new_users, retained, resurrected,
           CAST(COALESCE(LAG(active) OVER (ORDER BY wk), 0) - retained AS BIGINT) AS churned
    FROM weekly
    ORDER BY week
    """,
    tags=("events", "analytics", "growth"),
    uwin=(
        'week-grained series (<= timeline weeks)',
    ),
)
def events_lifecycle_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: classify each user-week as new / retained /
    resurrected from the user's previous active week, and derive
    churned(w) = active(w-1) - retained(w) — the standard
    new+retained+resurrected-churned decomposition of WAU growth.
    Weeks are integer epoch-week indexes (floor of epoch-us / one
    week), so no calendar/timezone dialect is involved. Scale: one
    distinct pass builds the user-week table, the lag window is
    per-user (bounded partitions), and the final churn lag runs over
    the weeks-sized summary."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(604800000000.0)).cast("bigint").alias("wk"),
    ).distinct()
    wlag = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select("user_id", "wk", F.lag("wk").over(wlag).alias("prev_wk"))
    weekly = seq.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("active"),
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull() & (F.col("prev_wk") < F.col("wk") - 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("resurrected"),
    )
    wweek = Window.orderBy("wk")
    return weekly.select(
        F.col("wk").alias("week"),
        "active",
        "new_users",
        "retained",
        "resurrected",
        (F.coalesce(F.lag("active").over(wweek), F.lit(0)) - F.col("retained"))
        .cast("bigint")
        .alias("churned"),
    ).orderBy("week")


LORENZ_BUCKETS = 10


@query(
    "events_lorenz_deciles",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT total,
               ROW_NUMBER() OVER (ORDER BY total ASC, user_id ASC) AS rn,
               COUNT(*) OVER () AS n
        FROM per_user
    ),
    bucketed AS (
        SELECT CAST(floor((rn - 1) * {LORENZ_BUCKETS} / n) AS BIGINT) AS decile, total
        FROM ranked
    ),
    agg AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CAST(ROUND(total, 6) AS DECIMAL(28,6))) AS DOUBLE) AS dec_sum
        FROM bucketed GROUP BY decile
    )
    SELECT decile, n_users,
           ROUND(dec_sum / SUM(dec_sum) OVER (), 9) AS share,
           ROUND(SUM(dec_sum) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                 / SUM(dec_sum) OVER (), 9) AS cum_share
    FROM agg
    ORDER BY decile
    """,
    tags=("events", "analytics", "stats"),
    uwin=(
        '10-row decile rollup table',
        '10-row decile rollup table',
    ),
)
def events_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution: rank users by total event
    value, split into ten equal-population buckets, report each
    bucket's share and cumulative share of total value — the curve
    behind the Gini coefficient (events_gini_coefficient computes the
    scalar; this exposes the distribution shape concentration
    dashboards plot). The global rank uses the range-repartition +
    per-partition-offset idiom (no single-partition window over
    users); everything after the bucket assignment is a 10-row table.
    Decile math floor((rn-1)*10/n) matches the oracle exactly because
    both sides are integer."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round("value", 6).cast("decimal(28,6)")).cast("double").alias("total")
    )
    per_user = pin(per_user)  # shared frame (scan-leaf lint)
    par = spark.sparkContext.defaultParallelism
    ranged = per_user.repartitionByRange(par, "total", "user_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wlocal = Window.partitionBy("pid").orderBy("total", "user_id")
    local = ranged.withColumn("lrn", F.row_number().over(wlocal))
    offsets = (
        ranged.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("pid", "off")
    )
    n_tot = per_user.agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        local.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(n_tot))
        .select("total", (F.col("lrn") + F.col("off")).alias("rn"), "n")
    )
    bucketed = ranked.select(
        F.floor((F.col("rn") - 1) * LORENZ_BUCKETS / F.col("n"))
        .cast("bigint")
        .alias("decile"),
        "total",
    )
    agg = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.round("total", 6).cast("decimal(28,6)")).cast("double").alias("dec_sum"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "decile",
        "n_users",
        F.round(F.col("dec_sum") / F.sum("dec_sum").over(wall), 9).alias("share"),
        F.round(
            F.sum("dec_sum").over(wcum) / F.sum("dec_sum").over(wall), 9
        ).alias("cum_share"),
    ).orderBy("decile")


@query(
    "orders_fulfillment_snapshot",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               min(CAST(floor(epoch_us(l_shipdate) / 86400000000.0) AS BIGINT)) AS first_ship_day,
               max(CAST(floor(epoch_us(l_shipdate) / 86400000000.0) AS BIGINT)) AS last_ship_day
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           CAST(floor(epoch_us(o.o_orderdate) / 86400000000.0) AS BIGINT) AS order_day,
           li.n_lines,
           li.first_ship_day, li.last_ship_day,
           li.first_ship_day - CAST(floor(epoch_us(o.o_orderdate) / 86400000000.0) AS BIGINT)
               AS days_to_first_ship,
           li.last_ship_day - li.first_ship_day AS ship_span_days,
           CASE WHEN o.o_orderstatus = 'F' THEN 'complete'
                WHEN li.n_lines IS NULL THEN 'pending'
                ELSE 'in_progress' END AS milestone
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    ORDER BY o.o_orderkey
    """,
    tags=("analytics", "warehouse"),
)
def orders_fulfillment_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact table (Kimball pattern #3): one row
    per order carrying every fulfillment milestone reached so far —
    first/last ship dates, lag-to-first-ship, shipping span, and a
    derived milestone state — the table order-tracking dashboards scan
    instead of re-aggregating lineitem. One lineitem groupBy + one
    orderkey-keyed left join; day arithmetic is integer epoch-day
    subtraction (no calendar dialect). At 100 TB both sides shuffle on
    the same key, and the snapshot can be maintained incrementally by
    the merge_incremental_agg machinery."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day = lambda c: F.floor(F.unix_micros(c) / F.lit(86400000000.0)).cast("bigint")
    agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.min(day(F.col("l_shipdate"))).alias("first_ship_day"),
        F.max(day(F.col("l_shipdate"))).alias("last_ship_day"),
    )
    joined = o.join(agg, o["o_orderkey"] == agg["l_orderkey"], "left")
    return joined.select(
        "o_orderkey",
        day(F.col("o_orderdate")).alias("order_day"),
        "n_lines",
        "first_ship_day",
        "last_ship_day",
        (F.col("first_ship_day") - day(F.col("o_orderdate"))).alias("days_to_first_ship"),
        (F.col("last_ship_day") - F.col("first_ship_day")).alias("ship_span_days"),
        F.when(F.col("o_orderstatus") == "F", "complete")
        .when(F.col("n_lines").isNull(), "pending")
        .otherwise("in_progress")
        .alias("milestone"),
    ).orderBy("o_orderkey")


ABSORB_STEPS = 3
ABSORB_TARGET = "purchase"


def _absorb_sql_step(i: int) -> str:
    """One value-iteration step: a_i(s) = p_direct(s) + sum over
    non-absorbing t of p(s->t) * a_{i-1}(t)."""
    prev = f"a{i - 1}"
    return f"""
    a{i} AS (
        SELECT pd.state,
               pd.p_direct + COALESCE(st.contrib, 0.0) AS val
        FROM pd LEFT JOIN (
            SELECT tr.from_type AS state,
                   CAST(SUM(CAST(ROUND(tr.p * a.val, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS contrib
            FROM nonabs tr JOIN {prev} a ON tr.to_type = a.state
            GROUP BY tr.from_type
        ) st ON pd.state = st.state
    )"""


_ABSORB_ORACLE = (
    f"""WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    trans AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) AS DOUBLE)
                   / SUM(count(*)) OVER (PARTITION BY from_type) AS p
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    states AS (SELECT DISTINCT from_type AS state FROM trans),
    pd AS (
        SELECT s.state, COALESCE(t.p, 0.0) AS p_direct
        FROM states s LEFT JOIN (
            SELECT from_type, p FROM trans WHERE to_type = '{ABSORB_TARGET}'
        ) t ON s.state = t.from_type
    ),
    nonabs AS (
        SELECT from_type, to_type, p FROM trans WHERE to_type <> '{ABSORB_TARGET}'
    ),
    a0 AS (SELECT state, p_direct AS val FROM pd),"""
    + ",".join(_absorb_sql_step(i) for i in range(1, ABSORB_STEPS + 1))
    + f"""
    SELECT pd.state, ROUND(pd.p_direct, 9) AS p_direct,
           ROUND(a1.val, 9) AS p_within_2,
           ROUND(a2.val, 9) AS p_within_3,
           ROUND(a3.val, 9) AS p_within_4
    FROM pd
    JOIN a1 ON pd.state = a1.state
    JOIN a2 ON pd.state = a2.state
    JOIN a3 ON pd.state = a3.state
    ORDER BY pd.state"""
)


@query(
    "events_absorbing_markov",
    oracle=_ABSORB_ORACLE,
    tags=("events", "analytics", "markov"),
)
def events_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov conversion probability: P(reach 'purchase'
    within k steps | current state), by value iteration over the
    empirical transition matrix with 'purchase' absorbing (paths stop
    on conversion). Three unrolled iterations — the finite-horizon
    slice of the fundamental-matrix computation — all running on the
    |states|^2 transition table, so the only corpus-sized work is the
    per-user lead() window that counts transitions. Products round-12
    into decimal sums per the iterative-unroll discipline
    (kmeans/DoReMi pattern)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    wsum = Window.partitionBy("from_type")
    trans = pin(
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "from_type",
            "to_type",
            (F.col("n").cast("double") / F.sum("n").over(wsum)).alias("p"),
        ),
        # |states|^2-row table consumed by every iteration step: truncate
        # the lineage so the value iteration never re-scans the corpus
        eager=True,
    )
    states = trans.select(F.col("from_type").alias("state")).distinct()
    direct = trans.filter(F.col("to_type") == ABSORB_TARGET).select(
        F.col("from_type").alias("state"), F.col("p").alias("pd_raw")
    )
    pd_ = states.join(direct, "state", "left").select(
        "state", F.coalesce("pd_raw", F.lit(0.0)).alias("p_direct")
    )
    nonabs = trans.filter(F.col("to_type") != ABSORB_TARGET)
    a = pd_.select("state", F.col("p_direct").alias("val"))
    snapshots = []
    for _ in range(ABSORB_STEPS):
        contrib = (
            nonabs.join(
                a.select(F.col("state").alias("to_type"), "val"), "to_type"
            )
            .groupBy(F.col("from_type").alias("state"))
            .agg(
                F.sum(F.round(F.col("p") * F.col("val"), 12).cast("decimal(38,12)"))
                .cast("double")
                .alias("contrib")
            )
        )
        a = pd_.join(contrib, "state", "left").select(
            "state",
            (F.col("p_direct") + F.coalesce("contrib", F.lit(0.0))).alias("val"),
        )
        snapshots.append(a)
    out = pd_.select("state", F.round("p_direct", 9).alias("p_direct"))
    for i, s in enumerate(snapshots):
        out = out.join(
            s.select("state", F.round("val", 9).alias(f"p_within_{i + 2}")), "state"
        )
    return out.orderBy("state")


PPR_SEED_REGION = "ASIA"  # restart mass spreads over this region's nations


def _ppr_oracle() -> str:
    """Unrolled personalized PageRank: identical recurrence to
    _pr_oracle but the restart mass concentrates on the seed set."""
    it = """
    pmass{n} AS (
        SELECT e.dst AS v,
               list_reduce(list(e.w_frac * r.rank ORDER BY e.src),
                           (acc, x) -> acc + x) AS mass
        FROM edges e JOIN pit{p} r ON r.v = e.src
        GROUP BY e.dst
    ),
    pit{n} AS (
        SELECT nodes.v,
               (1 - CAST({d} AS DOUBLE)) * nodes.restart
               + CAST({d} AS DOUBLE) * COALESCE(m.mass, 0.0) AS rank
        FROM nodes LEFT JOIN pmass{n} m ON m.v = nodes.v
    )"""
    its = ",".join(
        it.format(n=i, p=i - 1, d=PR_DAMPING) for i in range(1, PR_ITERATIONS + 1)
    )
    return f"""
    WITH raw_edges AS (
        SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY src, dst
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS total FROM raw_edges GROUP BY src),
    edges AS (
        SELECT e.src, e.dst,
               CAST(e.w AS DOUBLE) / CAST(o.total AS DOUBLE) AS w_frac
        FROM raw_edges e JOIN outw o ON e.src = o.src
    ),
    seeds AS (
        SELECT n_name AS v FROM nation JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{PPR_SEED_REGION}'
    ),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM seeds),
    nodes AS (
        SELECT n_name AS v,
               CASE WHEN n_name IN (SELECT v FROM seeds)
                    THEN 1.0 / (SELECT k FROM ns) ELSE 0.0 END AS restart
        FROM nation
    ),
    pit0 AS (SELECT v, restart AS rank FROM nodes),
    {its}
    SELECT v AS nation, ROUND(rank, 12) AS ppr,
           v IN (SELECT v FROM seeds) AS is_seed
    FROM pit{PR_ITERATIONS}
    ORDER BY ROUND(rank, 12) DESC, nation
    """


@query(
    "graph_ppr_from_seed",
    oracle=_ppr_oracle(),
    tags=("graph", "analytics", "iterative"),
)
def graph_ppr_from_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the nation trade graph: restart mass
    concentrates on the ASIA seed set instead of spreading uniformly,
    so ranks measure proximity TO the seeds — the recommendation /
    related-entities primitive (who trades with Asia, transitively).
    Identical Pregel-shaped iteration and canonical-fold determinism
    discipline as graph_pagerank; only the restart vector differs, so
    the two queries share the 100 TB scaling argument: per iteration
    one edge-keyed join + one keyed fold, nothing collects."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
        )
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    c = F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = pin(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, s.s_nationkey == n1.s_nk)
        .join(n2, c.c_nationkey == n2.c_nk)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        # bounded (≤ nation² rows), consumed twice inside the edges
        # pin's builder — inner pin keeps the star join single-pass
        # (pin-interior lint, r13)
    )
    outw = raw.groupBy(F.col("src").alias("o_src")).agg(
        F.sum("w").cast("bigint").alias("total")
    )
    edges = pin(
        raw.join(outw, raw.src == outw.o_src)
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("total").cast("double")).alias("w_frac"),
        ),
        eager=True,
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    seeds = (
        nation.join(
            region, nation["n_regionkey"] == region["r_regionkey"]
        )
        .filter(F.col("r_name") == PPR_SEED_REGION)
        .select(F.col("n_name").alias("v"))
    )
    k = seeds.count()
    nodes = pin(
        nation.select(F.col("n_name").alias("v"))
        .join(seeds.select("v", F.lit(True).alias("is_seed")), "v", "left")
        .select(
            "v",
            F.coalesce("is_seed", F.lit(False)).alias("is_seed"),
            F.when(F.coalesce("is_seed", F.lit(False)), F.lit(1.0) / k)
            .otherwise(0.0)
            .alias("restart"),
        ),
        eager=True,
    )
    ranks = nodes.select("v", F.col("restart").alias("rank"))
    for _ in range(PR_ITERATIONS):
        contribs = edges.join(ranks, edges.src == ranks.v).select(
            F.col("dst"),
            F.struct(F.col("src"), (F.col("w_frac") * F.col("rank")).alias("c")).alias(
                "sc"
            ),
        )
        incoming = (
            contribs.groupBy(F.col("dst").alias("v"))
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list("sc")), lambda s: s.c
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("mass")
            )
        )
        ranks = nodes.join(incoming, "v", "left_outer").select(
            "v",
            (
                F.lit(1 - PR_DAMPING) * F.col("restart")
                + F.lit(PR_DAMPING) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
    return (
        ranks.join(nodes.select("v", "is_seed"), "v")
        .select(
            F.col("v").alias("nation"),
            F.round("rank", 12).alias("ppr"),
            "is_seed",
        )
        .orderBy(F.round("rank", 12).desc(), "nation")
    )


@query(
    "events_conversion_lag_percentiles",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    ),
    first_ev AS (
        SELECT user_id, event_type AS channel
        FROM (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    lags AS (
        SELECT f.channel,
               CAST(floor((epoch_us(p.first_purchase) - epoch_us(p.first_seen))
                          / 3600000000.0) AS BIGINT) AS lag_hours
        FROM per_user p JOIN first_ev f ON p.user_id = f.user_id
        WHERE p.first_purchase IS NOT NULL
          AND p.first_purchase > p.first_seen
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           round(CAST(quantile_cont(lag_hours, 0.25) AS DOUBLE), 6) AS p25_hours,
           round(CAST(quantile_cont(lag_hours, 0.5)  AS DOUBLE), 6) AS p50_hours,
           round(CAST(quantile_cont(lag_hours, 0.9)  AS DOUBLE), 6) AS p90_hours
    FROM lags
    GROUP BY channel
    ORDER BY channel
    """,
    tags=("events", "analytics", "percentile"),
)
def events_conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per acquisition channel (the
    user's first event type standing in for the channel): exact
    p25/p50/p90 of the first-seen -> first-purchase lag in integer
    hours. Lag quartiles by channel are how growth teams compare
    funnel friction across entry points. Two per-user reductions (one
    min/min pass, one first-event window) joined on user, then exact
    percentiles over integer hour lags — at 100 TB the percentile
    input is converted-users-sized and integer-valued, so
    percentile() interpolation is exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    wfirst = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_ev = (
        ev.select("user_id", F.col("event_type").alias("channel"), "ts", "event_id")
        .withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
        .select("user_id", "channel")
    )
    lags = (
        per_user.join(first_ev, "user_id")
        .filter(
            F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_seen"))
        )
        .select(
            "channel",
            F.floor(
                (F.unix_micros("first_purchase") - F.unix_micros("first_seen"))
                / F.lit(3600000000.0)
            )
            .cast("bigint")
            .alias("lag_hours"),
        )
    )
    return (
        lags.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_converted"),
            F.round(F.expr("percentile(lag_hours, 0.25)"), 6).alias("p25_hours"),
            F.round(F.expr("percentile(lag_hours, 0.5)"), 6).alias("p50_hours"),
            F.round(F.expr("percentile(lag_hours, 0.9)"), 6).alias("p90_hours"),
        )
        .orderBy("channel")
    )


KTRUSS_K = 4
KTRUSS_ROUNDS = 2


def _truss_sql_round(prev: str, cur: str, k: int) -> str:
    """One unrolled k-truss peel in DuckDB SQL: enumerate triangles on
    the canonical (u<v) edge list, credit each edge's support, keep
    edges with support >= k-2."""
    return f"""
    tri_{cur} AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM {prev} e1
        JOIN {prev} e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN {prev} e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    sup_{cur} AS (
        SELECT u, v, count(*) AS sup FROM (
            SELECT x AS u, y AS v FROM tri_{cur}
            UNION ALL SELECT x AS u, z AS v FROM tri_{cur}
            UNION ALL SELECT y AS u, z AS v FROM tri_{cur}
        ) GROUP BY u, v
    ),
    {cur} AS (
        SELECT e.u, e.v FROM {prev} e
        JOIN sup_{cur} s ON e.u = s.u AND e.v = s.v AND s.sup >= {k - 2}
    )"""


@query(
    "graph_ktruss",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    er0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),{_truss_sql_round("er0", "er1", KTRUSS_K)},{_truss_sql_round("er1", "er2", KTRUSS_K)},
    tri_f AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM er2 e1
        JOIN er2 e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN er2 e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM (
        SELECT x AS u, y AS v FROM tri_f
        UNION ALL SELECT x AS u, z AS v FROM tri_f
        UNION ALL SELECT y AS u, z AS v FROM tri_f
    ) GROUP BY u, v
    ORDER BY u, v
    """,
    tags=("graph",),
    bench=True,
)
def graph_ktruss(
    spark: SparkSession,
    sf_dir: str,
    k: int = KTRUSS_K,
    rounds: int = KTRUSS_ROUNDS,
    bounded_graph: bool = True,
) -> DataFrame:
    """Bounded k-truss decomposition of the part co-purchase graph:
    each round enumerates triangles on the canonical (u<v) edge list,
    counts per-edge triangle support, and drops edges with support
    < k-2 — the cohesive-subgraph mining step (Cohen's truss; the
    denser, community-grade refinement of k-core, which peels
    vertices where truss peels edges). Two fixed rounds registered,
    then a final support recount on the surviving edges; the oracle
    replays the identical unrolled peel (the k-core/LPA precedent).

    Scale: triangle enumeration is the wedge join e(x,y)⋈e(x,z) closed
    by e(y,z) — all hash equi-joins keyed on vertex ids, never a cross
    product; canonical ordering (u<v) halves the edge list and makes
    each wedge counted once. Per round the edge frame shrinks
    monotonically and is pin-truncated so the plan stays
    flat in the round count. At 100 TB the wedge join skews on hub
    vertices — the production mitigation is degree-ordered orientation
    (orient each edge low-degree → high-degree), which this canonical
    form approximates on id order."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = pin(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )

    def support(e: DataFrame) -> DataFrame:
        # r13 (guide §3.1): the co-purchase subgraph is BOUNDED BY
        # CONSTRUCTION (l_orderkey <= 2000 caps the basket count, ≤7
        # parts per basket cap the edge count), so the wedge-closing
        # sides broadcast — each support round previously shuffled the
        # edge list three ways (SMJ wedge join + closure + semi-join),
        # all fixed-size data. r14 (VERDICT r13 task 5): the hint is
        # now GATED on ``bounded_graph`` — an unbounded caller falls
        # back to the keyed SMJ + degree-ordered orientation shape
        # (docstring) instead of inheriting a driver-OOM broadcast.
        e1 = e.alias("e1")
        e2 = broadcast_bounded(e.alias("e2"), bounded_graph)
        e3 = broadcast_bounded(e.alias("e3"), bounded_graph)
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
        return roles.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sup"))

    for _ in range(rounds):
        sup = support(edges).filter(F.col("sup") >= k - 2).select("u", "v")
        edges = pin(edges.join(
            broadcast_bounded(sup, bounded_graph), ["u", "v"], "left_semi"
        ))
    return (
        support(edges)
        .select("u", "v", F.col("sup").cast("bigint").alias("support"))
        .orderBy("u", "v")
    )


# SPRT constants, pinned as exact double literals shared by both engines
# (libm ln() is not guaranteed correctly-rounded across runtimes):
# H0 p=0.18 vs H1 p=0.22, alpha=0.05, beta=0.20.
SPRT_L1 = 0.20067069546215124  # ln(0.22/0.18), per-success LLR increment
SPRT_L0 = -0.050010420574661305  # ln(0.78/0.82), per-failure LLR increment
SPRT_A = 2.772588722239781  # ln((1-beta)/alpha), accept-H1 boundary
SPRT_B = -1.5581446180465497  # ln(beta/(1-alpha)), accept-H0 boundary


@query(
    "events_sprt_sequential_test",
    oracle=f"""
    WITH trials AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS success
        FROM events
    ),
    walk AS (
        SELECT variant, event_id,
               ROW_NUMBER() OVER w AS t,
               SUM(success) OVER w AS k
        FROM trials
        WINDOW w AS (PARTITION BY variant ORDER BY event_id)
    ),
    llr AS (
        SELECT variant, t,
               k * CAST({SPRT_L1!r} AS DOUBLE)
               + (t - k) * CAST({SPRT_L0!r} AS DOUBLE) AS llr
        FROM walk
    ),
    crossing AS (
        SELECT variant,
               MAX(t) AS n_trials,
               MIN(CASE WHEN llr >= CAST({SPRT_A!r} AS DOUBLE) THEN t END)
                   AS t_up,
               MIN(CASE WHEN llr <= CAST({SPRT_B!r} AS DOUBLE) THEN t END)
                   AS t_dn
        FROM llr GROUP BY variant
    ),
    verdict AS (
        SELECT variant, n_trials,
               CASE
                 WHEN t_up IS NOT NULL
                      AND (t_dn IS NULL OR t_up < t_dn) THEN t_up
                 WHEN t_dn IS NOT NULL THEN t_dn
               END AS t_decide,
               CASE
                 WHEN t_up IS NOT NULL
                      AND (t_dn IS NULL OR t_up < t_dn) THEN 'accept_h1'
                 WHEN t_dn IS NOT NULL THEN 'accept_h0'
                 ELSE 'continue'
               END AS decision
        FROM crossing
    )
    SELECT v.variant, CAST(v.n_trials AS BIGINT) AS n_trials,
           CAST(v.t_decide AS BIGINT) AS t_decide, v.decision,
           round(l.llr, 9) AS llr_at_decision
    FROM verdict v
    LEFT JOIN llr l ON l.variant = v.variant AND l.t = v.t_decide
    ORDER BY v.variant
    """,
    tags=("events", "experimentation"),
)
def events_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test per experiment
    variant: trials arrive in event order, the cumulative
    log-likelihood ratio is k·ln(p1/p0) + (t-k)·ln((1-p1)/(1-p0)),
    and the test stops at the first boundary crossing (accept H1 at
    A, accept H0 at B) — the sequential A/B machinery that lets an
    experiment stop early instead of waiting for a fixed horizon.
    The LLR is a pure integer-weighted sum of two pinned literal
    constants, so the walk is exact in both engines; the crossing
    scan is a conditional MIN over the walk. Scale: one window
    cumsum partitioned by variant (each variant sorts within its own
    partitions) + a variant-keyed 2-row aggregate; the join back for
    the decision LLR is broadcast-sized."""
    ev = load_table(spark, sf_dir, "events")
    trials = ev.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("success"),
    )
    w = Window.partitionBy("variant").orderBy("event_id")
    walk = trials.select(
        "variant",
        "event_id",
        F.row_number().over(w).alias("t"),
        F.sum("success").over(w).alias("k"),
    )
    llr = walk.select(
        "variant",
        "t",
        (
            F.col("k") * F.lit(SPRT_L1) + (F.col("t") - F.col("k")) * F.lit(SPRT_L0)
        ).alias("llr"),
    )
    crossing = llr.groupBy("variant").agg(
        F.max("t").alias("n_trials"),
        F.min(F.when(F.col("llr") >= SPRT_A, F.col("t"))).alias("t_up"),
        F.min(F.when(F.col("llr") <= SPRT_B, F.col("t"))).alias("t_dn"),
    )
    up_wins = F.col("t_up").isNotNull() & (
        F.col("t_dn").isNull() | (F.col("t_up") < F.col("t_dn"))
    )
    verdict = crossing.select(
        "variant",
        "n_trials",
        F.when(up_wins, F.col("t_up"))
        .otherwise(F.col("t_dn"))
        .alias("t_decide"),
        F.when(up_wins, "accept_h1")
        .when(F.col("t_dn").isNotNull(), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
    v, l = verdict.alias("v"), llr.alias("l")
    return (
        v.join(
            l,
            (F.col("l.variant") == F.col("v.variant"))
            & (F.col("l.t") == F.col("v.t_decide")),
            "left",
        )
        .select(
            F.col("v.variant").alias("variant"),
            F.col("v.n_trials").cast("bigint").alias("n_trials"),
            F.col("v.t_decide").cast("bigint").alias("t_decide"),
            F.col("v.decision").alias("decision"),
            F.round(F.col("l.llr"), 9).alias("llr_at_decision"),
        )
        .orderBy("variant")
    )


@query(
    "events_competing_risks",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase,
               min(CASE WHEN event_type = 'error' THEN ts END) AS t_error,
               max(ts) AS last_seen
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT user_id,
               CASE
                 WHEN t_purchase IS NOT NULL
                      AND (t_error IS NULL OR t_purchase <= t_error)
                   THEN 'purchase'
                 WHEN t_error IS NOT NULL THEN 'error'
                 ELSE 'censor'
               END AS cause,
               CAST(floor((epoch_us(
                   CASE
                     WHEN t_purchase IS NOT NULL
                          AND (t_error IS NULL OR t_purchase <= t_error)
                       THEN t_purchase
                     WHEN t_error IS NOT NULL THEN t_error
                     ELSE last_seen
                   END) - epoch_us(first_seen)) / 3600000000.0) AS BIGINT)
                   AS t_obs
        FROM per_user
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs),
    drops AS (SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS leaving
              FROM obs GROUP BY t_obs),
    d_any AS (SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS d
              FROM obs WHERE cause <> 'censor' GROUP BY t_obs),
    risk AS (
        SELECT e.t, e.d,
               tot.n_total
               - COALESCE(SUM(dr.leaving) OVER (ORDER BY e.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM d_any e
        LEFT JOIN drops dr ON e.t = dr.t
        CROSS JOIN tot
    ),
    surv AS (
        SELECT t, d, n_risk,
               COALESCE(exp(SUM(ln(greatest(1.0 - CAST(d AS DOUBLE) / n_risk,
                                            1e-12)))
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING)), 1.0) AS s_minus
        FROM risk
    ),
    d_cause AS (
        SELECT t_obs AS t, cause, CAST(count(*) AS BIGINT) AS d_k
        FROM obs WHERE cause <> 'censor' GROUP BY t_obs, cause
    ),
    incr AS (
        SELECT dc.cause, dc.t, dc.d_k, sv.n_risk,
               sv.s_minus * CAST(dc.d_k AS DOUBLE) / sv.n_risk AS inc
        FROM d_cause dc JOIN surv sv ON dc.t = sv.t
    )
    SELECT cause, t AS hours, CAST(n_risk AS BIGINT) AS n_risk,
           d_k AS n_events,
           round(SUM(inc) OVER (PARTITION BY cause ORDER BY t
                                ROWS UNBOUNDED PRECEDING), 6)
               AS cumulative_incidence
    FROM incr
    ORDER BY cause, hours
    """,
    tags=("events", "analytics", "survival"),
    uwin=(
        'integer-hour duration grid (<= timeline hours)',
        'integer-hour duration grid (<= timeline hours)',
    ),
)
def events_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under competing risks: each
    user's first 'purchase' and first 'error' compete (whichever comes
    first is that user's terminal cause; neither means censoring at
    last-seen). CIF_k(t) = sum over event times <= t of
    S(t-) * d_k/n_risk, where S is the cause-agnostic Kaplan-Meier —
    the estimator that fixes the bias of running 1-KM per cause as if
    the other cause were censoring (it over-counts; CIFs here sum to
    <= 1 by construction). Running products take the exp-sum-ln window
    rewrite (the events_kaplan_meier precedent, same window order both
    engines). Scale: one user-keyed agg over the corpus, then every
    window runs on the event-time table, bounded by distinct
    observation hours — metadata-sized, like every threshold-table
    metric."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("t_error"),
        F.max("ts").alias("last_seen"),
    )
    purchase_first = F.col("t_purchase").isNotNull() & (
        F.col("t_error").isNull() | (F.col("t_purchase") <= F.col("t_error"))
    )
    t_end = (
        F.when(purchase_first, F.col("t_purchase"))
        .when(F.col("t_error").isNotNull(), F.col("t_error"))
        .otherwise(F.col("last_seen"))
    )
    us = lambda c: F.unix_micros(c)  # noqa: E731
    obs = pin(per_user.select(
        F.when(purchase_first, "purchase")
        .when(F.col("t_error").isNotNull(), "error")
        .otherwise("censor")
        .alias("cause"),
        F.floor((us(t_end) - us(F.col("first_seen"))) / F.lit(3600000000.0))
        .cast("bigint")
        .alias("t_obs"),
    ))  # 3 consumers (scan-leaf lint)
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    drops = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaving")
    )
    d_any = (
        obs.filter(F.col("cause") != "censor")
        .groupBy(F.col("t_obs").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        d_any.join(drops, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d",
            (F.col("n_total") - F.coalesce(F.sum("leaving").over(before), F.lit(0)))
            .alias("n_risk"),
        )
    )
    surv = risk.select(
        "t",
        "d",
        "n_risk",
        F.coalesce(
            F.exp(
                F.sum(
                    F.log(
                        F.greatest(
                            F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                            F.lit(1e-12),
                        )
                    )
                ).over(before)
            ),
            F.lit(1.0),
        ).alias("s_minus"),
    )
    d_cause = (
        obs.filter(F.col("cause") != "censor")
        .groupBy(F.col("t_obs").alias("t"), "cause")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_k"))
    )
    incr = d_cause.join(surv.select("t", "n_risk", "s_minus"), "t").select(
        "cause",
        "t",
        "d_k",
        "n_risk",
        (F.col("s_minus") * F.col("d_k").cast("double") / F.col("n_risk")).alias("inc"),
    )
    cw = Window.partitionBy("cause").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return incr.select(
        "cause",
        F.col("t").alias("hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_k").alias("n_events"),
        F.round(F.sum("inc").over(cw), 6).alias("cumulative_incidence"),
    ).orderBy("cause", "hours")


# ---- HMM Viterbi (unrolled) -------------------------------------------
# 2 hidden states, 5 observed event types, L=6 steps. All log-probs are
# pinned literals so both engines add the exact same doubles; the
# recursion is generated ONCE as SQL expression text and evaluated via
# F.expr in Spark and verbatim in the DuckDB oracle — a single source
# of truth for the arithmetic.
HMM_L = 6
_HMM_PI = {"A": -0.35667494393873245, "B": -1.2039728043259361}  # ln .7/.3
_HMM_T = {  # ln of row-stochastic transition matrix
    ("A", "A"): -0.2231435513142097,  # ln 0.8
    ("A", "B"): -1.6094379124341003,  # ln 0.2
    ("B", "A"): -0.916290731874155,   # ln 0.4
    ("B", "B"): -0.5108256237659907,  # ln 0.6
}
_HMM_E = {  # ln emission probs per state over the 5 event types
    "A": {"click": -0.6931471805599453, "view": -1.2039728043259361,
          "purchase": -1.8971199848858813, "signup": -2.995732273553991,
          "error": -3.912023005428146},
    "B": {"click": -2.3025850929940455, "view": -1.6094379124341003,
          "purchase": -3.2188758248682006, "signup": -1.0498221244986778,
          "error": -0.7985076962177716},
}


def _hmm_emit(state: str, obs_col: str) -> str:
    cases = " ".join(
        f"WHEN '{o}' THEN CAST('{lp!r}' AS DOUBLE)"
        for o, lp in _HMM_E[state].items()
    )
    return f"(CASE {obs_col} {cases} ELSE CAST('-20.0' AS DOUBLE) END)"


def _hmm_exprs() -> list[tuple[str, str]]:
    """(column_name, sql_expression) pairs unrolling the Viterbi
    recursion over observation columns o1..oL."""
    out = []
    out.append(("va_1", f"CAST('{_HMM_PI['A']!r}' AS DOUBLE) + {_hmm_emit('A', 'o1')}"))
    out.append(("vb_1", f"CAST('{_HMM_PI['B']!r}' AS DOUBLE) + {_hmm_emit('B', 'o1')}"))
    for t in range(2, HMM_L + 1):
        p = t - 1
        taa = f"CAST('{_HMM_T[('A','A')]!r}' AS DOUBLE)"
        tba = f"CAST('{_HMM_T[('B','A')]!r}' AS DOUBLE)"
        tab = f"CAST('{_HMM_T[('A','B')]!r}' AS DOUBLE)"
        tbb = f"CAST('{_HMM_T[('B','B')]!r}' AS DOUBLE)"
        out.append((f"bpa_{t}",
                    f"(CASE WHEN va_{p} + {taa} >= vb_{p} + {tba} "
                    f"THEN 'A' ELSE 'B' END)"))
        out.append((f"va_{t}",
                    f"(CASE WHEN va_{p} + {taa} >= vb_{p} + {tba} "
                    f"THEN va_{p} + {taa} ELSE vb_{p} + {tba} END) "
                    f"+ {_hmm_emit('A', f'o{t}')}"))
        out.append((f"bpb_{t}",
                    f"(CASE WHEN va_{p} + {tab} >= vb_{p} + {tbb} "
                    f"THEN 'A' ELSE 'B' END)"))
        out.append((f"vb_{t}",
                    f"(CASE WHEN va_{p} + {tab} >= vb_{p} + {tbb} "
                    f"THEN va_{p} + {tab} ELSE vb_{p} + {tbb} END) "
                    f"+ {_hmm_emit('B', f'o{t}')}"))
    # backtrack: sL = argmax, s_{t} = bp_{t+1}(s_{t+1})
    out.append((f"s_{HMM_L}",
                f"(CASE WHEN va_{HMM_L} >= vb_{HMM_L} THEN 'A' ELSE 'B' END)"))
    for t in range(HMM_L - 1, 0, -1):
        out.append((f"s_{t}",
                    f"(CASE WHEN s_{t+1} = 'A' THEN bpa_{t+1} ELSE bpb_{t+1} END)"))
    path = " || ".join(f"s_{t}" for t in range(1, HMM_L + 1))
    best = f"(CASE WHEN va_{HMM_L} >= vb_{HMM_L} THEN va_{HMM_L} ELSE vb_{HMM_L} END)"
    out.append(("state_path", path))
    out.append(("log_prob", f"round({best}, 9)"))
    return out


def _hmm_oracle() -> str:
    steps = ""
    prev = "seq"
    for i, (name, expr) in enumerate(_hmm_exprs()):
        cur = f"h{i}"
        steps += f",\n    {cur} AS (SELECT *, {expr} AS {name} FROM {prev})"
        prev = cur
    obs_cols = ", ".join(
        f"MAX(CASE WHEN rn = {t} THEN event_type END) AS o{t}"
        for t in range(1, HMM_L + 1)
    )
    return f"""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    seq AS (
        SELECT user_id, {obs_cols}
        FROM ranked WHERE rn <= {HMM_L}
        GROUP BY user_id
        HAVING count(*) >= {HMM_L}
    ){steps}
    SELECT user_id, state_path, log_prob
    FROM {prev}
    ORDER BY user_id
    """


@query(
    "events_hmm_viterbi",
    oracle=_hmm_oracle(),
    tags=("events", "sequence"),
)
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a 2-state HMM (engaged 'A' vs churny 'B')
    over each user's first 6 events — the sequence-labeling decode
    behind bot detection and user-state segmentation. The max-product
    recursion is UNROLLED into pure column expressions (6 steps × 2
    states of CASE/max arithmetic plus explicit backpointers), so a
    100 TB decode is one user-keyed pivot followed by a map-only
    expression pass — no iteration, no UDF, no state store. All
    transition/emission log-probs are pinned literals; Spark evaluates
    the SAME generated expression text via F.expr that the oracle runs
    verbatim, so the floating-point walk is identical by
    construction. Ties break to state 'A' at every max."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= HMM_L)
    seq = (
        ranked.groupBy("user_id")
        .agg(
            *[
                F.max(F.when(F.col("rn") == t, F.col("event_type"))).alias(f"o{t}")
                for t in range(1, HMM_L + 1)
            ],
            F.count(F.lit(1)).alias("n_obs"),
        )
        .filter(F.col("n_obs") >= HMM_L)
        .drop("n_obs")
    )
    cur = seq
    for name, expr in _hmm_exprs():
        cur = cur.withColumn(name, F.expr(expr))
    return cur.select("user_id", "state_path", "log_prob").orderBy("user_id")


@query(
    "events_burstiness_fano",
    oracle="""
    WITH ordered AS (
        SELECT event_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    ),
    gaps AS (
        SELECT event_type, CAST(gap_us AS DOUBLE) / 1000000.0 AS gap_s
        FROM ordered WHERE gap_us IS NOT NULL
    ),
    mom AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(gap_s AS DECIMAL(28,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(gap_s * gap_s AS DECIMAL(28,6))) AS DOUBLE) AS s2
        FROM gaps GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           round(s1 / n, 9) AS mean_gap_s,
           round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 9) AS sd_gap_s,
           round((sqrt((s2 - s1 * s1 / n) / (n - 1)) - s1 / n)
                 / (sqrt((s2 - s1 * s1 / n) / (n - 1)) + s1 / n), 9)
               AS burstiness,
           round((s2 - s1 * s1 / n) / (n - 1) / (s1 / n), 9) AS fano_factor
    FROM mom
    ORDER BY event_type
    """,
    tags=("events", "analytics"),
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: the Goh-Barabási
    burstiness B = (σ-μ)/(σ+μ) and the Fano factor σ²/μ of the
    inter-event gaps — B≈0 / Fano≈μ for a Poisson process, B→1 for
    bursty traffic (the signature separating organic users from bots
    and incident storms). Gaps are exact integer microsecond LAGs
    (per-type ordered windows, each type sorts within its own
    partitions); moments go through decimal(28,6) sums — gaps are
    ~seconds-scale so the 6-dp snap keeps every term in the
    cast-safe digit budget. One window pass + one grouped moment
    aggregation at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select(
            "event_type", (F.col("gap_us").cast("double") / 1000000.0).alias("gap_s")
        )
    )
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gap_s").cast("decimal(28,6)")).cast("double").alias("s1"),
        F.sum((F.col("gap_s") * F.col("gap_s")).cast("decimal(28,6)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    sd = F.sqrt(var)
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(mean, 9).alias("mean_gap_s"),
        F.round(sd, 9).alias("sd_gap_s"),
        F.round((sd - mean) / (sd + mean), 9).alias("burstiness"),
        F.round(var / mean, 9).alias("fano_factor"),
    ).orderBy("event_type")


@query(
    "scd4_current_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_id, ts AS valid_from, event_type
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    intervals AS (
        SELECT user_id, event_type, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id)
                   AS valid_to
        FROM changes
    )
    SELECT 'current' AS table_name, user_id, event_type,
           valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
    FROM intervals WHERE valid_to IS NULL
    UNION ALL
    SELECT 'history', user_id, event_type, valid_from, valid_to
    FROM intervals WHERE valid_to IS NOT NULL
    ORDER BY table_name, user_id, valid_from
    """,
    tags=("events", "cdc"),
)
def scd4_current_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing dimension TYPE 4 — the current/history table
    split (the warehouse pattern when the hot dimension must stay
    narrow and fast while full lineage lives in a separate history
    table): change points become validity intervals exactly as in the
    SCD2 build, then open intervals land in 'current' (valid_to NULL)
    and closed ones in 'history'. Completes the SCD family alongside
    types 2, 3 and 6. Same two window passes on one (user_id, ts)
    ordering — one shuffle serves both — plus a split that is a pure
    filter; the union is plan-level, no second scan."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_id", F.col("ts").alias("valid_from"), "event_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    intervals = changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    current = intervals.filter(F.col("valid_to").isNull()).select(
        F.lit("current").alias("table_name"),
        "user_id",
        "event_type",
        "valid_from",
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    history = intervals.filter(F.col("valid_to").isNotNull()).select(
        F.lit("history").alias("table_name"),
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
    )
    return current.unionAll(history).orderBy("table_name", "user_id", "valid_from")


# ---- slope-constrained DTW (unrolled DP) ------------------------------
DTW_T = 30  # both daily series have exactly 30 days at every SF


def _dtw_oracle() -> str:
    steps = []
    for i in range(2, DTW_T + 1):
        steps.append(
            f"""r{i} AS MATERIALIZED (
        SELECT c.j, m.d + c.c AS d
        FROM (
            SELECT tj AS j, MIN(d) AS d FROM (
                SELECT p.j + t.o AS tj, p.d
                FROM r{i-1} p, (VALUES (0), (1), (2)) t(o)
            ) WHERE tj <= {DTW_T} GROUP BY tj
        ) m
        JOIN costs c ON c.i = {i} AND c.j = m.j
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH xs AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, xbar AS x FROM (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS xbar
            FROM events WHERE event_type = 'click' GROUP BY 1
        )
    ),
    ys AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS j, xbar AS y FROM (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS xbar
            FROM events WHERE event_type = 'view' GROUP BY 1
        )
    ),
    costs AS MATERIALIZED (SELECT i, j, abs(x - y) AS c FROM xs, ys),
    r1 AS MATERIALIZED (SELECT 1 AS j, c AS d FROM costs WHERE i = 1 AND j = 1),
    {chain}
    SELECT j, round(d, 9) AS dtw_d FROM r{DTW_T} ORDER BY j
    """


@query(
    "events_dtw_alignment",
    oracle=_dtw_oracle(),
    tags=("events", "timeseries"),
    uwin=(
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
    ),
)
def events_dtw_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope-constrained dynamic time warping between the daily 'click'
    and 'view' mean-value series: D(i,j) = cost(i,j) + min over
    {(i-1,j), (i-1,j-1), (i-1,j-2)} — the Sakoe-Chiba step pattern
    where each day of series A consumes 0-2 days of B, the alignment
    used to compare phase-shifted KPI curves where Euclidean distance
    breaks. The corpus-scale work is the two daily decimal rollups;
    the DP itself is a 30x30 metadata-sized problem, so it folds in
    ONE whole-stage expression (aggregate over the step sequence with
    a transform per row — no 29-stage driver loop, no UDF, no
    collect). The oracle replays the identical recursion as 29
    chained CTEs (Spark's WITH RECURSIVE disallows aggregates over
    the recursive reference, so unrolling is the
    cross-engine-deterministic form). Every D value is one specific
    min-path sum of |mean diffs| built from decimal-exact daily
    means, so both engines walk identical doubles."""
    ev = load_table(spark, sf_dir, "events")

    def daily(et: str, idx: str, val: str) -> DataFrame:
        d = ev.filter(F.col("event_type") == et).groupBy(
            F.col("ts").cast("date").alias("day")
        ).agg(
            (
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias(val)
        )
        w = Window.orderBy("day")
        return d.select(F.row_number().over(w).alias(idx), val)

    xs = daily("click", "i", "x")
    ys = daily("view", "j", "y")
    # cost matrix as one array-of-arrays row: m[i-1][j-1] = |x_i - y_j|
    costs = (
        xs.crossJoin(ys)
        .select("i", "j", F.abs(F.col("x") - F.col("y")).alias("c"))
        .groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c"))), lambda s: s["c"]
            ).alias("crow")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "crow"))),
                lambda s: s["crow"],
            ).alias("m")
        )
    )
    t = DTW_T
    inf = "CAST('Infinity' AS DOUBLE)"
    # row 1: only j=1 is reachable; fold rows 2..T, each cell taking the
    # min of the previous row's {j, j-1, j-2} then adding its cost
    dp = (
        f"aggregate(sequence(2, {t}), "
        f"transform(sequence(1, {t}), j -> IF(j = 1, m[0][0], {inf})), "
        f"(acc, i) -> transform(sequence(1, {t}), j -> "
        f"element_at(element_at(m, i), j) + least("
        f"element_at(acc, j), "
        f"IF(j >= 2, element_at(acc, j - 1), {inf}), "
        f"IF(j >= 3, element_at(acc, j - 2), {inf}))))"
    )
    return (
        costs.select(F.posexplode(F.expr(dp)).alias("j0", "d"))
        .select((F.col("j0") + 1).alias("j"), F.round("d", 9).alias("dtw_d"))
        .orderBy("j")
    )


RICH_CLUB_KS = (2, 4, 8, 16)


@query(
    "graph_rich_club",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_orderkey <= 2000
    ),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT u AS node, count(*) AS d FROM (
            SELECT u FROM e UNION ALL SELECT v FROM e
        ) t(u) GROUP BY u
    ),
    edge_deg AS (
        SELECT least(du.d, dv.d) AS dmin
        FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in RICH_CLUB_KS)}]) AS k),
    stats AS (
        SELECT ks.k,
               (SELECT count(*) FROM deg WHERE d > ks.k) AS n_nodes,
               (SELECT count(*) FROM edge_deg WHERE dmin > ks.k) AS n_edges
        FROM ks
    )
    SELECT k, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           round(CASE WHEN n_nodes >= 2
                      THEN 2.0 * n_edges / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1))
                      ELSE 0.0 END, 9) AS phi
    FROM stats
    ORDER BY k
    """,
    tags=("graph",),
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2·E_k / (N_k·(N_k−1)) over the
    part co-purchase graph: do high-degree vertices preferentially
    interconnect (the hub-oligarchy diagnostic used on
    interaction/infrastructure graphs)? One degree aggregation, one
    edge->degree join annotating each edge with min(endpoint degrees),
    then every k in the ladder reads from the SAME annotated edge
    table via conditional counts — no per-k re-scan. All integer
    counts; the ratio is one IEEE division rounded at 9. Degree join
    sides are vertex-keyed; nothing quadratic."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = pin(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # multi-consumer edge list: pin once (scan-leaf lint) — without
        # it the basket self-join re-runs per consumer
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    edge_deg = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(F.least("du", "dv").alias("dmin"))
    )
    ks = spark.createDataFrame([(k,) for k in RICH_CLUB_KS], "k int")
    n_nodes = deg.crossJoin(F.broadcast(ks)).filter(F.col("d") > F.col("k")).groupBy(
        "k"
    ).agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edge_deg.crossJoin(F.broadcast(ks)).filter(
        F.col("dmin") > F.col("k")
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        ks.join(n_nodes, "k", "left")
        .join(n_edges, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).cast("bigint").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("bigint").alias("n_edges"),
            F.round(
                F.when(
                    F.coalesce("n_nodes", F.lit(0)) >= 2,
                    2.0
                    * F.coalesce("n_edges", F.lit(0))
                    / (
                        F.coalesce("n_nodes", F.lit(0)).cast("double")
                        * (F.coalesce("n_nodes", F.lit(0)) - 1)
                    ),
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("phi"),
        )
        .orderBy("k")
    )


CROSTON_ALPHA = 0.3
CROSTON_SBA = 1.0 - CROSTON_ALPHA / 2.0  # Syntetos-Boylan bias correction


@query(
    "events_croston_intermittent",
    oracle=f"""
    WITH spine AS (
        SELECT t.event_type, d.day
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
    ),
    demand AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS DOUBLE) AS z
        FROM events WHERE value > 200.0 GROUP BY 1, 2
    ),
    daily AS (
        SELECT s.event_type, s.day, COALESCE(dm.z, 0.0) AS z
        FROM spine s LEFT JOIN demand dm
          ON s.event_type = dm.event_type AND s.day = dm.day
    ),
    series AS (
        SELECT event_type, count(*) AS n_obs,
               CAST(SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_demand_days,
               list(z ORDER BY day) AS zs
        FROM daily GROUP BY event_type
    ),
    fitted AS (
        SELECT event_type, n_obs, n_demand_days,
               list_reduce(
                   list_prepend([0.0, 1.0, 1.0],
                       list_transform(zs, x -> [CAST(x AS DOUBLE),
                                                CAST(0 AS DOUBLE),
                                                CAST(0 AS DOUBLE)])),
                   (acc, x) -> CASE WHEN x[1] > 0 THEN [
                       {CROSTON_ALPHA} * x[1] + (1 - {CROSTON_ALPHA}) * acc[1],
                       {CROSTON_ALPHA} * acc[3] + (1 - {CROSTON_ALPHA}) * acc[2],
                       1.0
                   ] ELSE [acc[1], acc[2], acc[3] + 1.0] END) AS st
        FROM series
    )
    SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs, n_demand_days,
           round(st[1], 6) AS demand_size_hat,
           round(st[2], 6) AS interval_hat,
           round(st[1] / st[2], 6) AS croston_forecast,
           round(CAST('{CROSTON_SBA!r}' AS DOUBLE) * st[1] / st[2], 6)
               AS sba_forecast
    FROM fitted
    ORDER BY event_type
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (daily counts of
    rare high-value events, zero on most days): separate exponential
    smoothing of demand SIZE and of the INTERVAL between demands,
    forecast = size/interval, plus the Syntetos-Boylan bias-corrected
    variant — the standard spare-parts/rare-event forecaster where
    Holt/EWMA systematically overshoot right after each demand spike.
    Same machinery as the Holt fold: a zero-filled daily spine, exact
    integer demand counts, one ordered array-local fold per series
    with a 3-element double-list state [size_hat, interval_hat,
    periods_since_demand] (list state, not struct — the DuckDB
    struct-accumulator CSE trap), updating only on demand days. At
    100 TB the series key shards like every bounded-fold operator."""
    ev = load_table(spark, sf_dir, "events")
    # one corpus scan (scan-leaf lint): the (type, day) cell rollup
    # carries the demand count per cell, and the spine domains are the
    # distincts of the same rollup (every type/day of events appears)
    cells = pin(ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("value") > 200.0, 1).otherwise(0))
        .cast("double")
        .alias("z")
    ))
    spine = cells.select("event_type").distinct().crossJoin(
        cells.select("day").distinct()
    )
    demand = cells.filter(F.col("z") > 0)
    daily = spine.join(demand, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("z", F.lit(0.0)).alias("z")
    )
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.when(F.col("z") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_demand_days"),
        F.array_sort(F.collect_list(F.struct("day", "z"))).alias("pairs"),
    )
    a = CROSTON_ALPHA
    fold = F.aggregate(
        F.transform(F.col("pairs"), lambda s: s["z"]),
        F.array(F.lit(0.0), F.lit(1.0), F.lit(1.0)),
        lambda acc, x: F.when(
            x > 0,
            F.array(
                F.lit(a) * x + F.lit(1 - a) * acc[0],
                F.lit(a) * acc[2] + F.lit(1 - a) * acc[1],
                F.lit(1.0),
            ),
        ).otherwise(F.array(acc[0], acc[1], acc[2] + F.lit(1.0))),
    )
    fitted = series.select(
        "event_type", "n_obs", "n_demand_days", fold.alias("st")
    )
    return fitted.select(
        "event_type",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        "n_demand_days",
        F.round(F.col("st")[0], 6).alias("demand_size_hat"),
        F.round(F.col("st")[1], 6).alias("interval_hat"),
        F.round(F.col("st")[0] / F.col("st")[1], 6).alias("croston_forecast"),
        F.round(F.lit(CROSTON_SBA) * F.col("st")[0] / F.col("st")[1], 6).alias(
            "sba_forecast"
        ),
    ).orderBy("event_type")


REMOVAL_CHANNELS = ("click", "error", "signup", "view")  # purchase = absorber
REMOVAL_STEPS = 3


def _removal_variant_sql(tag: str, removed: str | None) -> str:
    """CTE chain for one removal variant: filtered transition table,
    k unrolled value-iteration steps, and the start-weighted
    conversion probability."""
    cond = f"from_type <> '{removed}' AND to_type <> '{removed}'" if removed else "TRUE"
    p0_cond2 = f"p0.state <> '{removed}'" if removed else "TRUE"
    steps = ""
    for i in range(1, REMOVAL_STEPS + 1):
        prev = f"{tag}_a{i - 1}"
        steps += f""",
    {tag}_a{i} AS MATERIALIZED (
        SELECT pd.state, pd.p_direct + COALESCE(st.contrib, 0.0) AS val
        FROM {tag}_pd pd LEFT JOIN (
            SELECT tr.from_type AS state,
                   CAST(SUM(CAST(ROUND(tr.p * a.val, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS contrib
            FROM {tag}_nonabs tr JOIN {prev} a ON tr.to_type = a.state
            GROUP BY tr.from_type
        ) st ON pd.state = st.state
    )"""
    return f""",
    {tag}_trans AS MATERIALIZED (SELECT * FROM trans WHERE {cond}),
    {tag}_pd AS MATERIALIZED (
        SELECT s.state, COALESCE(t.p, 0.0) AS p_direct
        FROM (SELECT DISTINCT from_type AS state FROM {tag}_trans) s
        LEFT JOIN (SELECT from_type, p FROM {tag}_trans
                   WHERE to_type = 'purchase') t
          ON s.state = t.from_type
    ),
    {tag}_nonabs AS MATERIALIZED (
        SELECT from_type, to_type, p FROM {tag}_trans
        WHERE to_type <> 'purchase'
    ),
    {tag}_a0 AS MATERIALIZED (SELECT state, p_direct AS val FROM {tag}_pd){steps},
    {tag}_conv AS MATERIALIZED (
        SELECT (SELECT COALESCE(SUM(w), 0.0) FROM p0
                WHERE state = 'purchase')
               + COALESCE((
                   SELECT CAST(SUM(CAST(ROUND(p0.w * a.val, 12)
                                        AS DECIMAL(38,12))) AS DOUBLE)
                   FROM p0 JOIN {tag}_a{REMOVAL_STEPS} a ON p0.state = a.state
                   WHERE p0.state <> 'purchase' AND {p0_cond2}
               ), 0.0) AS p_conv
    )"""


def _removal_oracle() -> str:
    variants = "".join(
        _removal_variant_sql(f"v{i}", ch)
        for i, ch in enumerate(REMOVAL_CHANNELS)
    )
    effects = " + ".join(
        f"GREATEST((SELECT p_conv FROM f_conv) "
        f"- (SELECT p_conv FROM v{i}_conv), 0.0)"
        for i in range(len(REMOVAL_CHANNELS))
    )
    rows = "\n    UNION ALL ".join(
        f"SELECT '{ch}' AS channel, (SELECT p_conv FROM v{i}_conv) AS p_conv_removed"
        for i, ch in enumerate(REMOVAL_CHANNELS)
    )
    return f"""
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    trans AS MATERIALIZED (
        SELECT from_type, to_type,
               CAST(count(*) AS DOUBLE)
                   / SUM(count(*)) OVER (PARTITION BY from_type) AS p
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    firsts AS (
        SELECT user_id, state FROM (
            SELECT user_id, event_type AS state,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    p0 AS MATERIALIZED (
        SELECT state, CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM firsts) AS w
        FROM firsts GROUP BY state
    ){_removal_variant_sql("f", None)}{variants},
    eff AS (
        SELECT r.channel, f.p_conv AS p_conv_full, r.p_conv_removed,
               GREATEST(f.p_conv - r.p_conv_removed, 0.0) AS effect
        FROM ({rows}) r CROSS JOIN f_conv f
    )
    SELECT channel, round(p_conv_full, 9) AS p_conv_full,
           round(p_conv_removed, 9) AS p_conv_removed,
           round(effect, 9) AS removal_effect,
           round(effect / NULLIF(({effects}), 0.0), 9) AS attribution_share
    FROM eff
    ORDER BY channel
    """


@query(
    "events_markov_removal_attribution",
    oracle=_removal_oracle(),
    tags=("events", "analytics", "markov", "attribution"),
)
def events_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov REMOVAL-EFFECT attribution (the data-driven model that
    replaces first/last-touch heuristics): conversion probability of
    the empirical journey chain is re-computed with each touch channel
    deleted (transitions through it die un-renormalized — journeys
    needing the channel are lost), and a channel's credit is its
    relative drop, normalized into attribution shares. Conversion
    probability is start-distribution-weighted finite-horizon value
    iteration with 'purchase' absorbing (the events_absorbing_markov
    machinery, run once per variant). The ONLY corpus-sized work is
    one lead() window + one first-event agg; all 5 variants iterate on
    the |states|^2 transition table, pin-truncated, so
    the attribution is O(channels x states^2) metadata arithmetic at
    any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    wsum = Window.partitionBy("from_type")
    trans = pin(
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "from_type",
            "to_type",
            (F.col("n").cast("double") / F.sum("n").over(wsum)).alias("p"),
        ),
        eager=True,
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias("state")
    )
    n_users = firsts.groupBy().agg(F.count(F.lit(1)).alias("nu"))
    p0 = pin(
        firsts.groupBy("state")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_users))
        .select("state", (F.col("c").cast("double") / F.col("nu")).alias("w")),
        eager=True,
    )

    def conv_prob(removed: str | None) -> DataFrame:
        """1-row frame with the variant's conversion probability."""
        tv = trans
        if removed is not None:
            tv = trans.filter(
                (F.col("from_type") != removed) & (F.col("to_type") != removed)
            )
        states = tv.select(F.col("from_type").alias("state")).distinct()
        pd_ = states.join(
            tv.filter(F.col("to_type") == "purchase").select(
                F.col("from_type").alias("state"), F.col("p").alias("pdr")
            ),
            "state",
            "left",
        ).select("state", F.coalesce("pdr", F.lit(0.0)).alias("p_direct"))
        nonabs = tv.filter(F.col("to_type") != "purchase")
        a = pd_.select("state", F.col("p_direct").alias("val"))
        for _ in range(REMOVAL_STEPS):
            contrib = (
                nonabs.join(
                    a.select(F.col("state").alias("to_type"), "val"), "to_type"
                )
                .groupBy(F.col("from_type").alias("state"))
                .agg(
                    F.sum(
                        F.round(F.col("p") * F.col("val"), 12).cast("decimal(38,12)")
                    )
                    .cast("double")
                    .alias("contrib")
                )
            )
            a = pd_.join(contrib, "state", "left").select(
                "state",
                (F.col("p_direct") + F.coalesce("contrib", F.lit(0.0))).alias("val"),
            )
        p0v = p0.filter(F.col("state") != "purchase")
        if removed is not None:
            p0v = p0v.filter(F.col("state") != removed)
        walked = p0v.join(a, "state").agg(
            F.coalesce(
                F.sum(
                    F.round(F.col("w") * F.col("val"), 12).cast("decimal(38,12)")
                ).cast("double"),
                F.lit(0.0),
            ).alias("pw")
        )
        started_converted = p0.filter(F.col("state") == "purchase").groupBy().agg(
            F.coalesce(F.sum("w"), F.lit(0.0)).alias("pp")
        )
        return walked.crossJoin(started_converted).select(
            (F.col("pw") + F.col("pp")).alias("p_conv")
        )

    full = conv_prob(None).select(F.col("p_conv").alias("p_conv_full"))
    rows = None
    for ch in REMOVAL_CHANNELS:
        r = conv_prob(ch).select(
            F.lit(ch).alias("channel"), F.col("p_conv").alias("p_conv_removed")
        )
        rows = r if rows is None else rows.unionByName(r)
    eff = rows.crossJoin(F.broadcast(full)).select(
        "channel",
        "p_conv_full",
        "p_conv_removed",
        F.greatest(F.col("p_conv_full") - F.col("p_conv_removed"), F.lit(0.0)).alias(
            "effect"
        ),
    )
    tot = eff.groupBy().agg(F.sum("effect").alias("tot_eff"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.round("p_conv_full", 9).alias("p_conv_full"),
            F.round("p_conv_removed", 9).alias("p_conv_removed"),
            F.round("effect", 9).alias("removal_effect"),
            F.round(
                F.col("effect") / F.when(F.col("tot_eff") != 0, F.col("tot_eff")), 9
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )


@query(
    "events_logrank_test",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS grp,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase,
               max(ts) AS last_seen
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT grp,
               CAST(floor((epoch_us(COALESCE(first_purchase, last_seen))
                           - epoch_us(first_seen)) / 3600000000.0) AS BIGINT)
                   AS t_obs,
               (first_purchase IS NOT NULL) AS is_event
        FROM per_user
    ),
    drops AS (
        SELECT t_obs AS t, grp, CAST(count(*) AS BIGINT) AS leaving
        FROM obs GROUP BY t_obs, grp
    ),
    d_t AS (
        SELECT t_obs AS t,
               CAST(SUM(CASE WHEN grp = 1 AND is_event THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM obs GROUP BY t_obs
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(SUM(grp) AS BIGINT) AS n1_all
        FROM obs
    ),
    risk AS (
        SELECT e.t, e.d1, e.d,
               tot.n_all
               - COALESCE(SUM(dr_all.leaving) OVER (ORDER BY e.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk,
               tot.n1_all
               - COALESCE(SUM(dr_all.l1) OVER (ORDER BY e.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n1_risk
        FROM d_t e
        LEFT JOIN (
            SELECT t, CAST(SUM(leaving) AS BIGINT) AS leaving,
                   CAST(SUM(CASE WHEN grp = 1 THEN leaving ELSE 0 END)
                        AS BIGINT) AS l1
            FROM drops GROUP BY t
        ) dr_all ON e.t = dr_all.t
        CROSS JOIN tot
    ),
    terms AS (
        SELECT t, d1,
               CAST(d AS DOUBLE) * n1_risk / n_risk AS e1,
               CASE WHEN n_risk > 1
                    THEN CAST(d AS DOUBLE) * n1_risk * (n_risk - n1_risk)
                         * (n_risk - d) / (CAST(n_risk AS DOUBLE) * n_risk
                                           * (n_risk - 1))
                    ELSE 0.0 END AS v1
        FROM risk WHERE d > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
           CAST(SUM(d1) AS BIGINT) AS observed_g1,
           round(CAST(SUM(CAST(round(e1, 9) AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS expected_g1,
           round(
               (SUM(d1) - CAST(SUM(CAST(round(e1, 9) AS DECIMAL(38,12)))
                               AS DOUBLE))
               * (SUM(d1) - CAST(SUM(CAST(round(e1, 9) AS DECIMAL(38,12)))
                                 AS DOUBLE))
               / CAST(SUM(CAST(round(v1, 9) AS DECIMAL(38,12))) AS DOUBLE),
               6) AS logrank_chi2
    FROM terms
    """,
    tags=("events", "analytics", "survival"),
    uwin=(
        'distinct integer-hour event-time grid (<= timeline hours)',
    ),
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing time-to-first-purchase
    between the two user cohorts: at every event time, group 1's
    observed events are compared with their hypergeometric expectation
    under the pooled risk set, and chi2 = (O-E)²/V — the standard
    inferential companion to the Kaplan-Meier curves (is the survival
    difference real?). Everything reduces to the event-time table:
    one user-keyed aggregation over the corpus, then bounded windows
    and exact integer-ratio terms (round-9-snapped into decimal sums)
    on O(distinct hours) rows."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.max("ts").alias("last_seen"),
    )
    us = lambda c: F.unix_micros(c)  # noqa: E731
    obs = per_user.select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.floor(
            (us(F.coalesce("first_purchase", "last_seen")) - us(F.col("first_seen")))
            / F.lit(3600000000.0)
        )
        .cast("bigint")
        .alias("t_obs"),
        F.col("first_purchase").isNotNull().alias("is_event"),
    )
    obs = pin(obs)  # shared frame (scan-leaf lint)
    d_t = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.sum(F.when((F.col("grp") == 1) & F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).cast("bigint").alias("d"),
    )
    drops = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
        F.sum("grp").cast("bigint").alias("l1"),
    )
    tot = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("grp").cast("bigint").alias("n1_all"),
    )
    before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        d_t.join(drops, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d1",
            "d",
            (F.col("n_all") - F.coalesce(F.sum("leaving").over(before), F.lit(0)))
            .alias("n_risk"),
            (F.col("n1_all") - F.coalesce(F.sum("l1").over(before), F.lit(0)))
            .alias("n1_risk"),
        )
        .filter(F.col("d") > 0)
    )
    e1 = F.col("d").cast("double") * F.col("n1_risk") / F.col("n_risk")
    v1 = F.when(
        F.col("n_risk") > 1,
        F.col("d").cast("double")
        * F.col("n1_risk")
        * (F.col("n_risk") - F.col("n1_risk"))
        * (F.col("n_risk") - F.col("d"))
        / (
            F.col("n_risk").cast("double")
            * F.col("n_risk")
            * (F.col("n_risk") - 1)
        ),
    ).otherwise(F.lit(0.0))
    terms = risk.select("t", "d1", e1.alias("e1"), v1.alias("v1"))
    dsum9 = lambda c: F.sum(F.round(c, 9).cast("decimal(38,12)")).cast("double")  # noqa: E731
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.sum("d1").cast("bigint").alias("observed_g1"),
        F.round(dsum9(F.col("e1")), 6).alias("expected_g1"),
        F.round(
            (F.sum("d1") - dsum9(F.col("e1")))
            * (F.sum("d1") - dsum9(F.col("e1")))
            / dsum9(F.col("v1")),
            6,
        ).alias("logrank_chi2"),
    )


@query(
    "orders_price_index",
    oracle="""
    WITH li AS (
        SELECT l_partkey,
               year(l_shipdate) AS yr,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS q,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS p
        FROM lineitem GROUP BY l_partkey, year(l_shipdate)
    ),
    bounds AS (SELECT min(yr) AS y0, min(yr) + 1 AS y1 FROM li),
    matched AS (
        SELECT b0.l_partkey, b0.p AS p0, b0.q AS q0, b1.p AS p1, b1.q AS q1
        FROM li b0 JOIN li b1 ON b0.l_partkey = b1.l_partkey
        CROSS JOIN bounds
        WHERE b0.yr = bounds.y0 AND b1.yr = bounds.y1
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(round(p1 * q0, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS p1q0,
               CAST(SUM(CAST(round(p0 * q0, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS p0q0,
               CAST(SUM(CAST(round(p1 * q1, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS p1q1,
               CAST(SUM(CAST(round(p0 * q1, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS p0q1
        FROM matched
    )
    SELECT n_parts,
           round(p1q0 / p0q0, 9) AS laspeyres,
           round(p1q1 / p0q1, 9) AS paasche,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 9) AS fisher
    FROM sums
    """,
    tags=("orders", "analytics", "economics"),
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-index numbers between the first two shipment years:
    Laspeyres (base-period basket), Paasche (current basket), and the
    Fisher ideal (their geometric mean) over per-part unit prices —
    the BI/economics rollup behind every 'price inflation vs mix
    shift' dashboard. Per-(part, year) unit prices come from exact
    decimal revenue/quantity sums; the index joins the two years on
    the part key (hash equi-join) and accumulates the four
    cross-basket products 6-dp-snapped. Full-entropy p·q products
    round at 6 dp where the grid dwarfs engine rounding skew."""
    li = load_table(spark, sf_dir, "lineitem")
    per = pin(li.groupBy("l_partkey", F.year("l_shipdate").alias("yr")).agg(
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("q"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double")
        ).alias("p"),
    ))  # 3 consumers (scan-leaf lint)
    bounds = per.agg(
        F.min("yr").alias("y0"), (F.min("yr") + 1).alias("y1")
    )
    b = per.crossJoin(F.broadcast(bounds))
    b0 = b.filter(F.col("yr") == F.col("y0")).select(
        "l_partkey", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    b1 = b.filter(F.col("yr") == F.col("y1")).select(
        "l_partkey", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    matched = b0.join(b1, "l_partkey")
    d6 = lambda c: F.sum(F.round(c, 6).cast("decimal(28,6)")).cast("double")  # noqa: E731
    sums = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        d6(F.col("p1") * F.col("q0")).alias("p1q0"),
        d6(F.col("p0") * F.col("q0")).alias("p0q0"),
        d6(F.col("p1") * F.col("q1")).alias("p1q1"),
        d6(F.col("p0") * F.col("q1")).alias("p0q1"),
    )
    return sums.select(
        "n_parts",
        F.round(F.col("p1q0") / F.col("p0q0"), 9).alias("laspeyres"),
        F.round(F.col("p1q1") / F.col("p0q1"), 9).alias("paasche"),
        F.round(
            F.sqrt((F.col("p1q0") / F.col("p0q0")) * (F.col("p1q1") / F.col("p0q1"))),
            9,
        ).alias("fisher"),
    )


@query(
    "events_eb_rate_shrinkage",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY user_id
    ),
    rates AS (
        SELECT user_id, n, k, CAST(k AS DOUBLE) / n AS r FROM per_user
    ),
    mom AS (
        SELECT CAST(SUM(CAST(round(r, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS mu,
               CAST(SUM(CAST(round(r * r, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS m2,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM rates
    ),
    prior AS (
        SELECT mu, n_users,
               mu * (mu * (1 - mu) / greatest(m2 - mu * mu, 1e-9) - 1)
                   AS alpha,
               (1 - mu) * (mu * (1 - mu) / greatest(m2 - mu * mu, 1e-9) - 1)
                   AS beta
        FROM mom
    ),
    shrunk AS (
        SELECT r.user_id, r.n, r.k, r.r,
               (r.k + p.alpha) / (r.n + p.alpha + p.beta) AS r_eb
        FROM rates r CROSS JOIN prior p
    )
    SELECT CAST(user_id // 25 AS BIGINT) AS user_band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           round(CAST(SUM(CAST(round(r, 9) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_raw_rate,
           round(CAST(SUM(CAST(round(r_eb, 9) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_eb_rate,
           round(MAX(ABS(r - r_eb)), 9) AS max_shrinkage
    FROM shrunk
    GROUP BY 1
    ORDER BY user_band
    """,
    tags=("events", "analytics", "bayes"),
)
def events_eb_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates toward a
    method-of-moments Beta prior — the smoothed-CTR estimator every
    ranking/ads system uses so a 1-for-1 user doesn't outrank a
    480-for-500 one: alpha/beta come from the rate distribution's own
    mean/variance, and each user's posterior mean (k+alpha)/(n+alpha+
    beta) pulls low-evidence rates toward the prior. Two grouped
    passes (per-user counts, moment rollup) + one broadcast of the
    2-scalar prior; banded output keeps the report bounded. Moment
    terms round-9 into decimal sums; the variance floor guards the
    degenerate equal-rates case identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    rates = per_user.select(
        "user_id", "n", "k", (F.col("k").cast("double") / F.col("n")).alias("r")
    )
    d9 = lambda c: F.sum(F.round(c, 9).cast("decimal(38,12)")).cast("double")  # noqa: E731
    mom = rates.agg(
        (d9(F.col("r")) / F.count(F.lit(1))).alias("mu"),
        (d9(F.col("r") * F.col("r")) / F.count(F.lit(1))).alias("m2"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    common = F.col("mu") * (1 - F.col("mu")) / F.greatest(
        F.col("m2") - F.col("mu") * F.col("mu"), F.lit(1e-9)
    ) - 1
    prior = mom.select(
        (F.col("mu") * common).alias("alpha"),
        ((1 - F.col("mu")) * common).alias("beta"),
    )
    shrunk = rates.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "r",
        ((F.col("k") + F.col("alpha")) / (F.col("n") + F.col("alpha") + F.col("beta")))
        .alias("r_eb"),
    )
    return (
        shrunk.groupBy(F.floor(F.col("user_id") / 25).cast("bigint").alias("user_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(d9(F.col("r")) / F.count(F.lit(1)), 9).alias("mean_raw_rate"),
            F.round(d9(F.col("r_eb")) / F.count(F.lit(1)), 9).alias("mean_eb_rate"),
            F.round(F.max(F.abs(F.col("r") - F.col("r_eb"))), 9).alias(
                "max_shrinkage"
            ),
        )
        .orderBy("user_band")
    )


@query(
    "orders_xyz_classification",
    oracle="""
    WITH weekly AS (
        SELECT l_partkey,
               CAST(floor(epoch_us(l_shipdate) / 604800000000.0) AS BIGINT)
                   AS wk,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    stats AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_weeks,
               CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu,
               CAST(SUM(CAST(q * q AS DECIMAL(28,6))) AS DOUBLE) AS s2
        FROM weekly GROUP BY l_partkey
        HAVING COUNT(*) >= 4
    ),
    cv AS (
        SELECT l_partkey, n_weeks,
               sqrt(greatest(s2 / n_weeks - mu * mu, 0.0)) / mu AS cv
        FROM stats WHERE mu > 0
    ),
    classed AS (
        SELECT CASE WHEN cv < 0.5 THEN 'X'
                    WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class,
               cv
        FROM cv
    )
    SELECT xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(CAST(round(cv, 9) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_cv,
           round(MIN(cv), 9) AS min_cv, round(MAX(cv), 9) AS max_cv
    FROM classed
    GROUP BY xyz_class
    ORDER BY xyz_class
    """,
    tags=("orders", "analytics", "supply"),
)
def orders_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification — the companion axis to
    the ABC value ranking (together the ABC-XYZ planning matrix): each
    part's weekly demand series yields a coefficient of variation, and
    parts class as X (steady, cv<0.5), Y (variable, <1.0) or Z
    (erratic) — X parts get automated reorder policies, Z parts manual
    planning. Exact decimal weekly rollup + per-part population
    moments (the variance from exact sums, floored at 0 against
    cancellation); parts with under 4 observed weeks are excluded as
    unclassifiable. Two grouped aggregations, part-keyed shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey",
        F.floor(F.unix_micros("l_shipdate") / F.lit(604800000000.0))
        .cast("bigint")
        .alias("wk"),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("q"))
    stats = (
        weekly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            (
                F.sum(F.col("q").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(28,6)"))
            .cast("double")
            .alias("s2"),
        )
        .filter(F.col("n_weeks") >= 4)
        .filter(F.col("mu") > 0)
    )
    cv = stats.select(
        "l_partkey",
        (
            F.sqrt(
                F.greatest(
                    F.col("s2") / F.col("n_weeks") - F.col("mu") * F.col("mu"),
                    F.lit(0.0),
                )
            )
            / F.col("mu")
        ).alias("cv"),
    )
    classed = cv.select(
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "cv",
    )
    return (
        classed.groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum(F.round("cv", 9).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_cv"),
            F.round(F.min("cv"), 9).alias("min_cv"),
            F.round(F.max("cv"), 9).alias("max_cv"),
        )
        .orderBy("xyz_class")
    )


# Gumbel method-of-moments constants, string-cast-shared literals:
# beta = s * sqrt(6)/pi, mu = xbar - gamma * beta
_GUMBEL_SQRT6_PI = "0.779696801233676"
_EULER_GAMMA = "0.5772156649015329"


@query(
    "events_gumbel_extreme_value",
    oracle=f"""
    WITH daily_max AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(max(value) AS DOUBLE) AS mx
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(mx AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                   AS xbar,
               CAST(SUM(CAST(mx * mx AS DECIMAL(28,6))) AS DOUBLE) AS s2
        FROM daily_max
    ),
    fit AS (
        SELECT n, xbar,
               sqrt(greatest((s2 - xbar * xbar * n) / (n - 1), 0.0))
                   * CAST('{_GUMBEL_SQRT6_PI}' AS DOUBLE) AS beta
        FROM mom
    )
    SELECT n AS n_days, round(xbar, 9) AS mean_daily_max,
           round(xbar - CAST('{_EULER_GAMMA}' AS DOUBLE) * beta, 9)
               AS gumbel_mu,
           round(beta, 9) AS gumbel_beta,
           round((xbar - CAST('{_EULER_GAMMA}' AS DOUBLE) * beta)
                 - beta * ln(-ln(1.0 - 1.0 / 30.0)), 9)
               AS return_level_30d,
           round((xbar - CAST('{_EULER_GAMMA}' AS DOUBLE) * beta)
                 - beta * ln(-ln(1.0 - 1.0 / 365.0)), 9)
               AS return_level_365d
    FROM fit
    """,
    tags=("events", "analytics", "extreme-value"),
)
def events_gumbel_extreme_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of daily maxima (Gumbel/EV1 by method of
    moments): beta = s·√6/π, mu = x̄ − γ·beta, and the T-day RETURN
    LEVEL mu − beta·ln(−ln(1−1/T)) — 'the daily peak you should
    expect once a month / once a year', the capacity-planning number
    percentiles of the raw stream understate because maxima, not
    means, break systems. Block maxima come from one daily rollup;
    moments are exact decimals; √6/π and Euler's γ are string-cast
    shared literals. The ln(−ln(·)) terms run on identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    daily_max = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.max("value").cast("double").alias("mx")
    )
    mom = daily_max.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col("mx").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("xbar"),
        F.sum((F.col("mx") * F.col("mx")).cast("decimal(28,6)"))
        .cast("double")
        .alias("s2"),
    )
    sqrt6pi = float(_GUMBEL_SQRT6_PI)
    gamma = float(_EULER_GAMMA)
    beta = (
        F.sqrt(
            F.greatest(
                (F.col("s2") - F.col("xbar") * F.col("xbar") * F.col("n"))
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        )
        * sqrt6pi
    )
    fit = mom.select("n", "xbar", beta.alias("beta"))
    mu = F.col("xbar") - gamma * F.col("beta")
    # ln(-ln(1-1/T)) is evaluated ENGINE-side in both engines so the
    # arithmetic path matches the oracle exactly
    rl30 = mu - F.col("beta") * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / 30.0))
    rl365 = mu - F.col("beta") * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / 365.0))
    return fit.select(
        F.col("n").alias("n_days"),
        F.round("xbar", 9).alias("mean_daily_max"),
        F.round(mu, 9).alias("gumbel_mu"),
        F.round("beta", 9).alias("gumbel_beta"),
        F.round(rl30, 9).alias("return_level_30d"),
        F.round(rl365, 9).alias("return_level_365d"),
    )


@query(
    "events_mann_kendall_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (
        SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n
        FROM pairs
    )
    SELECT n, s_stat,
           round(CAST(s_stat AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1) / 2), 9) AS kendall_tau,
           round(
               CASE WHEN s_stat > 0 THEN (s_stat - 1)
                    WHEN s_stat < 0 THEN (s_stat + 1)
                    ELSE 0 END
               / sqrt(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) / 18.0),
               9) AS z_statistic
    FROM s
    """,
    tags=("events", "analytics", "timeseries"),
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the daily mean-value
    series: S = sum of pairwise signs over all day pairs, Kendall's
    tau normalization, and the continuity-corrected z statistic — the
    nonparametric 'is this KPI actually trending' test that pairs
    with the Theil-Sen slope estimate (events_theil_sen_trend gives
    the magnitude, this gives the significance). The corpus collapses
    to the ~30-row daily table first, so the pair join is bounded by
    days², not data; signs of identical decimal-derived doubles are
    identical. (No ties in practice here, so the normal-variance
    form omits the tie correction — documented.)"""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("y")
    )
    daily = pin(daily)  # shared frame (scan-leaf lint)
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(sgn.alias("sgn"))
    n_ = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = pairs.agg(F.sum("sgn").cast("bigint").alias("s_stat")).crossJoin(
        F.broadcast(n_)
    )
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    return s.select(
        "n",
        "s_stat",
        F.round(
            F.col("s_stat").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1) / 2),
            9,
        ).alias("kendall_tau"),
        F.round(
            corrected
            / F.sqrt(
                F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                / 18.0
            ),
            9,
        ).alias("z_statistic"),
    )


@query(
    "events_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS y
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT CAST(SUM(CASE WHEN rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                                         CAST(floor((n + 2) / 2.0) AS BIGINT))
                             THEN y ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                                      CAST(floor((n + 2) / 2.0) AS BIGINT))
                          THEN 1 ELSE 0 END) AS m
        FROM (SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS rn,
                     COUNT(*) OVER () AS n
              FROM daily)
    ),
    signs AS (
        SELECT day, CASE WHEN y > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
        FROM daily WHERE y <> (SELECT m FROM med)
    ),
    runs AS (
        SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM signs
    ),
    counts AS (
        SELECT CAST(SUM(CASE WHEN prev IS NULL OR s <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS r,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(SUM(1 - s) AS BIGINT) AS n2
        FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           round(1.0 + 2.0 * n1 * n2 / (n1 + n2), 9) AS expected_runs,
           round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                           * (n1 + n2 - 1))), 9) AS z_statistic
    FROM counts
    """,
    tags=("events", "analytics", "statistics"),
    uwin=(
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
    ),
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily series
    around its exact median: too FEW runs of consecutive above/below
    days means trending or regime persistence, too many means
    oscillation — the model-free check that a KPI's day-to-day noise
    is actually noise. Median from distributed order statistics,
    median-equal days excluded (standard), runs counted by one LAG
    over the day-bounded table, z from the exact run-count moments.
    All corpus work is the one daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("y")
    )
    wr = Window.orderBy("y")
    wn = Window.partitionBy()
    ranked = daily.select(
        "day",
        "y",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
    hi = F.floor((F.col("n") + 2) / 2.0).cast("bigint")
    is_mid = (F.col("rn") == lo) | (F.col("rn") == hi)
    med = ranked.agg(
        (
            F.sum(F.when(is_mid, F.col("y")).otherwise(0.0)).cast("double")
            / F.sum(F.when(is_mid, 1).otherwise(0))
        ).alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select("day", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    runs = signs.select("s", F.lag("s").over(Window.orderBy("day")).alias("prev"))
    counts = runs.agg(
        F.sum(F.when(F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n2"),
    )
    er = 1.0 + 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2"))
    nn = (F.col("n1") + F.col("n2")).cast("double")
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (nn * (F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2") - 1))
    )
    return counts.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.round(er, 9).alias("expected_runs"),
        F.round((F.col("r") - er) / F.sqrt(var), 9).alias("z_statistic"),
    )


@query(
    "graph_reciprocity_dyad_census",
    oracle="""
    WITH e AS (
        SELECT DISTINCT n1.n_name AS src, n2.n_name AS dst
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
    ),
    nodes AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT src AS v FROM e UNION SELECT dst FROM e
        )
    ),
    mutual AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2
        FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
        WHERE a.src < a.dst
    ),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
               (SELECT m2 FROM mutual) AS mutual_dyads,
               (SELECT n FROM nodes) AS n_nodes
    )
    SELECT n_nodes, n_edges, mutual_dyads,
           n_edges - 2 * mutual_dyads AS asymmetric_dyads,
           CAST(n_nodes * (n_nodes - 1) // 2
               - mutual_dyads - (n_edges - 2 * mutual_dyads) AS BIGINT)
               AS null_dyads,
           round(2.0 * mutual_dyads / n_edges, 9) AS reciprocity
    FROM counts
    """,
    tags=("graph",),
)
def graph_reciprocity_dyad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity and the Holland-Leinhardt dyad census of the
    DIRECTED nation trade graph (supplier nation → customer nation):
    mutual / asymmetric / null dyads and the reciprocity ratio
    2M/E — does trade flow both ways between country pairs, the
    directed-structure diagnostic the undirected ops (triangles,
    k-core/truss) cannot see. One distinct-edge aggregation over the
    star join, then a src/dst-keyed self-join for mutual pairs on the
    25-node edge list — metadata-sized after the corpus pass."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst")
    )
    e = pin(
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), sup["s_nationkey"] == F.col("sk"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("ck"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct(),
        eager=True,
    )
    nodes = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    a, b = e.alias("a"), e.alias("b")
    mutual = (
        a.join(
            b,
            (F.col("a.src") == F.col("b.dst")) & (F.col("a.dst") == F.col("b.src")),
        )
        .filter(F.col("a.src") < F.col("a.dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("mutual_dyads"))
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        nodes.crossJoin(n_edges)
        .crossJoin(mutual)
        .select(
            "n_nodes",
            "n_edges",
            "mutual_dyads",
            (F.col("n_edges") - 2 * F.col("mutual_dyads")).alias("asymmetric_dyads"),
            (
                F.col("n_nodes") * (F.col("n_nodes") - 1) / 2
                - F.col("mutual_dyads")
                - (F.col("n_edges") - 2 * F.col("mutual_dyads"))
            )
            .cast("bigint")
            .alias("null_dyads"),
            F.round(2.0 * F.col("mutual_dyads") / F.col("n_edges"), 9).alias(
                "reciprocity"
            ),
        )
    )


RMST_TAU = 200  # restriction horizon (hours)


@query(
    "events_survival_rmst",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
               max(ts) AS last_seen
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT CAST(floor((epoch_us(COALESCE(first_purchase, last_seen))
                           - epoch_us(first_seen)) / 3600000000.0) AS BIGINT)
                   AS t_obs,
               (first_purchase IS NOT NULL) AS is_event
        FROM per_user
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs),
    drops AS (SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS leaving
              FROM obs GROUP BY t_obs),
    events_t AS (
        SELECT t_obs AS t, CAST(count(*) AS BIGINT) AS d
        FROM obs WHERE is_event GROUP BY t_obs
    ),
    risk AS (
        SELECT e.t, e.d,
               tot.n_total
               - COALESCE(SUM(dr.leaving) OVER (ORDER BY e.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM events_t e LEFT JOIN drops dr ON e.t = dr.t CROSS JOIN tot
    ),
    km AS (
        SELECT t,
               exp(SUM(ln(greatest(1.0 - CAST(d AS DOUBLE) / n_risk, 1e-12)))
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) AS s,
               LEAD(t) OVER (ORDER BY t) AS t_next
        FROM risk WHERE t < {RMST_TAU}
    ),
    segs AS (
        -- S=1 from 0 to the first event time
        SELECT 1.0 AS s, (SELECT COALESCE(MIN(t), {RMST_TAU}) FROM km) AS width
        UNION ALL
        SELECT s, LEAST(COALESCE(t_next, {RMST_TAU}), {RMST_TAU}) - t AS width
        FROM km
    )
    SELECT CAST({RMST_TAU} AS BIGINT) AS tau_hours,
           round(CAST(SUM(CAST(round(s * width, 9) AS DECIMAL(38,12)))
                      AS DOUBLE), 6) AS rmst_hours,
           round(CAST(SUM(CAST(round(s * width, 9) AS DECIMAL(38,12)))
                      AS DOUBLE) / {RMST_TAU}, 9) AS rmst_fraction
    FROM segs
    """,
    tags=("events", "analytics", "survival"),
    uwin=(
        'distinct integer-hour event-time grid (<= timeline hours)',
        'distinct integer-hour event-time grid (<= timeline hours)',
    ),
)
def events_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time: the area under the Kaplan-Meier
    curve up to tau=200h — 'expected purchase-free hours in the first
    200', the effect measure modern trials report when hazards are
    non-proportional and medians mislead. The KM step function
    integrates exactly as sum(S_i x interval width) with the S=1 head
    segment; S values come from the same exp-sum-ln windows as
    events_kaplan_meier, widths are exact integer hours, and the
    products round-9 into decimal sums. Corpus work = one user-keyed
    aggregation; everything after runs on the event-time table."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.max("ts").alias("last_seen"),
    )
    us = lambda c: F.unix_micros(c)  # noqa: E731
    obs = per_user.select(
        F.floor(
            (us(F.coalesce("first_purchase", "last_seen")) - us(F.col("first_seen")))
            / F.lit(3600000000.0)
        )
        .cast("bigint")
        .alias("t_obs"),
        F.col("first_purchase").isNotNull().alias("is_event"),
    )
    obs = pin(obs)  # shared frame (hygiene; km pin hides it from the lint)
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    drops = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("leaving")
    )
    events_t = (
        obs.filter("is_event")
        .groupBy(F.col("t_obs").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        events_t.join(drops, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d",
            (F.col("n_total") - F.coalesce(F.sum("leaving").over(before), F.lit(0)))
            .alias("n_risk"),
        )
    )
    upto = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = pin(risk.filter(F.col("t") < RMST_TAU).select(
        "t",
        F.exp(
            F.sum(
                F.log(
                    F.greatest(
                        F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                        F.lit(1e-12),
                    )
                )
            ).over(upto)
        ).alias("s"),
        F.lead("t").over(Window.orderBy("t")).alias("t_next"),
    ))  # 2 consumers (scan-leaf lint)
    head = km.agg(
        F.lit(1.0).alias("s"),
        F.coalesce(F.min("t"), F.lit(RMST_TAU)).cast("double").alias("width"),
    )
    tail = km.select(
        "s",
        (
            F.least(F.coalesce("t_next", F.lit(RMST_TAU)), F.lit(RMST_TAU))
            - F.col("t")
        )
        .cast("double")
        .alias("width"),
    )
    segs = head.unionByName(tail)
    return segs.agg(
        F.lit(RMST_TAU).cast("bigint").alias("tau_hours"),
        F.round(
            F.sum(F.round(F.col("s") * F.col("width"), 9).cast("decimal(38,12)"))
            .cast("double"),
            6,
        ).alias("rmst_hours"),
        F.round(
            F.sum(F.round(F.col("s") * F.col("width"), 9).cast("decimal(38,12)"))
            .cast("double")
            / RMST_TAU,
            9,
        ).alias("rmst_fraction"),
    )


@query(
    "events_ar2_yule_walker",
    oracle="""
    WITH spine AS (
        SELECT t.event_type, d.day
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
    ),
    cnt AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT s.event_type, s.day, COALESCE(c.x, 0) AS x
        FROM spine s LEFT JOIN cnt c
          ON s.event_type = c.event_type AND s.day = c.day
    ),
    lagged AS (
        SELECT event_type, day, x,
               lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
               lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2,
               row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rd,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER (PARTITION BY event_type) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY event_type) AS m
        FROM daily
    ),
    moments AS (
        SELECT event_type, m,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(SUM(CAST((x - m) * (x - m) AS DECIMAL(38,6))) AS DOUBLE) AS c0,
               CAST(SUM(CAST((x - m) * (x1 - m) AS DECIMAL(38,6))) AS DOUBLE) AS c1,
               CAST(SUM(CAST((x - m) * (x2 - m) AS DECIMAL(38,6))) AS DOUBLE) AS c2,
               CAST(MAX(CASE WHEN rd = 1 THEN x END) AS DOUBLE) AS x_last,
               CAST(MAX(CASE WHEN rd = 2 THEN x END) AS DOUBLE) AS x_prev
        FROM lagged GROUP BY event_type, m
    ),
    fit AS (
        SELECT event_type, n_days, m, x_last, x_prev,
               c1 / c0 AS r1, c2 / c0 AS r2
        FROM moments
    )
    SELECT event_type, n_days,
           round(m, 9) AS mean_daily,
           round(r1, 9) AS rho1,
           round(r2, 9) AS rho2,
           round(r1 * (1 - r2) / (1 - r1 * r1), 9) AS phi1,
           round((r2 - r1 * r1) / (1 - r1 * r1), 9) AS phi2,
           round(m + (r1 * (1 - r2) / (1 - r1 * r1)) * (x_last - m)
                   + ((r2 - r1 * r1) / (1 - r1 * r1)) * (x_prev - m), 9)
               AS forecast_next
    FROM fit
    ORDER BY event_type
    """,
    tags=("events", "timeseries", "ml"),
)
def events_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit by Yule-Walker per event-type daily-count series, plus
    the 1-step forecast — the classical linear companion to the
    Holt/Holt-Winters smoothers already in this module: φ1 =
    ρ1(1−ρ2)/(1−ρ1²), φ2 = (ρ2−ρ1²)/(1−ρ1²) from the lag-1/lag-2
    autocorrelations of the 0-filled spine series, x̂_{t+1} = μ +
    φ1(x_t−μ) + φ2(x_{t−1}−μ).

    Exactness: counts are integers, the mean is an exact rational
    evaluated identically in both engines, deviation products (≤4 int
    digits) sum through decimal(38,6), and the 2×2 Yule-Walker solve is
    the same closed-form double expression on both sides, rounded to 9.

    100 TB: one groupBy to daily cells (the only corpus-sized shuffle);
    the spine, lags, and solve all run on the day-grained table —
    series length × types rows, corpus-size-independent."""
    ev = load_table(spark, sf_dir, "events")
    cnt = pin(ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x")))
    # spine domains from the day-grained table (scan-leaf lint): the
    # distinct days/types of events == those of its (type, day) rollup
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct()
    spine = types.crossJoin(days)
    daily = spine.join(cnt, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("x", F.lit(0).cast("bigint")).alias("x")
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wd = Window.partitionBy("event_type").orderBy(F.col("day").desc())
    wf = Window.partitionBy("event_type")
    m = (
        F.sum(F.col("x").cast("decimal(28,6)")).over(wf).cast("double")
        / F.count(F.lit(1)).over(wf)
    )
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(wo).alias("x1"),
        F.lag("x", 2).over(wo).alias("x2"),
        F.row_number().over(wd).alias("rd"),
        m.alias("m"),
    )
    dev = F.col("x") - F.col("m")
    moments = lagged.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum((dev * dev).cast("decimal(38,6)")).cast("double").alias("c0"),
        F.sum((dev * (F.col("x1") - F.col("m"))).cast("decimal(38,6)"))
        .cast("double")
        .alias("c1"),
        F.sum((dev * (F.col("x2") - F.col("m"))).cast("decimal(38,6)"))
        .cast("double")
        .alias("c2"),
        F.max(F.when(F.col("rd") == 1, F.col("x"))).cast("double").alias("x_last"),
        F.max(F.when(F.col("rd") == 2, F.col("x"))).cast("double").alias("x_prev"),
    )
    r1 = F.col("c1") / F.col("c0")
    r2 = F.col("c2") / F.col("c0")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    return moments.select(
        "event_type",
        "n_days",
        F.round("m", 9).alias("mean_daily"),
        F.round(r1, 9).alias("rho1"),
        F.round(r2, 9).alias("rho2"),
        F.round(phi1, 9).alias("phi1"),
        F.round(phi2, 9).alias("phi2"),
        F.round(
            F.col("m")
            + phi1 * (F.col("x_last") - F.col("m"))
            + phi2 * (F.col("x_prev") - F.col("m")),
            9,
        ).alias("forecast_next"),
    ).orderBy("event_type")


@query(
    "events_identity_stitching",
    oracle="""
    WITH RECURSIVE purch AS (
        SELECT user_id,
               CAST(json_extract_string(props, 'k') AS BIGINT) * 100000
                 + CAST(date_part('epoch', date_trunc('hour', ts)) / 3600 AS BIGINT)
                   % 100000 AS device
        FROM events WHERE event_type = 'purchase'
    ),
    du AS (SELECT DISTINCT user_id, device FROM purch),
    pairs AS (
        SELECT a.user_id AS src, b.user_id AS dst
        FROM du a JOIN du b
          ON a.device = b.device AND a.user_id < b.user_id
    ),
    edges AS (
        SELECT DISTINCT src, dst FROM pairs
        UNION
        SELECT dst, src FROM pairs
    ),
    reach(a, b) AS (
        SELECT DISTINCT user_id, user_id FROM du
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a AS user_id, min(b) AS component FROM reach GROUP BY a),
    sized AS (
        SELECT component, CAST(count(*) AS BIGINT) AS n_users
        FROM comp GROUP BY component
    )
    SELECT component, n_users,
           CAST((SELECT count(*) FROM sized) AS BIGINT) AS n_components,
           CAST((SELECT count(*) FROM sized WHERE n_users >= 2) AS BIGINT)
               AS n_stitched
    FROM sized
    WHERE n_users >= 2
    ORDER BY n_users DESC, component
    """,
    tags=("events", "graph", "identity"),
)
def events_identity_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-device identity stitching — the entity-resolution job every
    event pipeline runs before sessionization: users observed on the
    same device fingerprint (here: purchase-event prop `k` × event
    hour, a deliberately sparse synthetic key) link into one identity
    graph, and connected components assign each user a canonical
    identity. Components with ≥2 users are the stitched identities.

    Engine path: distinct (user, device) pairs, device-keyed self-join
    for co-occurrence edges (cost Σ|device audience|², bounded by the
    fingerprint's sparsity — the same blocking argument as SNM), then
    the large-star/small-star CC operator (operators/cc.py, Kiveris
    2014: log-round, never diameter-round). The oracle replays
    reachability with a recursive CTE — exact same fixpoint.

    100 TB: dense fingerprints (shared NAT IPs) need a df-cap on the
    device audience before pairing (drop keys seen by >K users — they
    carry no identity signal), the standard remedy noted in
    dedup_containment."""
    from supabase_etl_spark.operators.cc import connected_components

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    device = (
        F.get_json_object("props", "$.k").cast("bigint") * 100000
        + F.pmod(
            F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600),
            F.lit(100000),
        )
    )
    du = ev.select("user_id", device.alias("device")).distinct()
    a, b = du.alias("a"), du.alias("b")
    pairs = a.join(
        b,
        (F.col("a.device") == F.col("b.device"))
        & (F.col("a.user_id") < F.col("b.user_id")),
    ).select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
    nodes = du.select(F.col("user_id").alias("node")).distinct()
    comp = connected_components(nodes, pairs).select(
        F.col("node").alias("user_id"), "component"
    )
    sized = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    totals = sized.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.sum((F.col("n_users") >= 2).cast("int")).cast("bigint").alias("n_stitched"),
    )
    return (
        sized.filter(F.col("n_users") >= 2)
        .crossJoin(F.broadcast(totals))
        .select("component", "n_users", "n_components", "n_stitched")
        .orderBy(F.col("n_users").desc(), "component")
    )


HC_QTY_MIN = 47  # edge sparsifier: only high-quantity trade pairs


@query(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_quantity >= {HC_QTY_MIN} AND s.s_nationkey <> c.c_nationkey
    ),
    sym AS (
        SELECT a AS u, b AS v FROM raw UNION SELECT b, a FROM raw
    ),
    nodes AS (SELECT DISTINCT u FROM sym),
    d2 AS (
        SELECT DISTINCT p.u, q.v
        FROM sym p JOIN sym q ON p.v = q.u
        WHERE q.v <> p.u
          AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.u = p.u AND s.v = q.v)
    ),
    d3 AS (
        SELECT DISTINCT p.u, q.v
        FROM d2 p JOIN sym q ON p.v = q.u
        WHERE q.v <> p.u
          AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.u = p.u AND s.v = q.v)
          AND NOT EXISTS (SELECT 1 FROM d2 t WHERE t.u = p.u AND t.v = q.v)
    ),
    counts AS (
        SELECT n.u,
               CAST(COALESCE((SELECT count(*) FROM sym s WHERE s.u = n.u), 0) AS BIGINT) AS n1,
               CAST(COALESCE((SELECT count(*) FROM d2 t WHERE t.u = n.u), 0) AS BIGINT) AS n2,
               CAST(COALESCE((SELECT count(*) FROM d3 t WHERE t.u = n.u), 0) AS BIGINT) AS n3
        FROM nodes n
    )
    SELECT u AS nationkey, n1, n2, n3,
           round(n1 + CAST(n2 AS DOUBLE) / 2 + CAST(n3 AS DOUBLE) / 3, 9)
               AS harmonic_at_3
    FROM counts
    ORDER BY nationkey
    """,
    tags=("graph", "centrality"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality truncated at 3 hops — the closeness-family
    score that stays well-defined on disconnected graphs (Boldi &
    Vigna 2014): h(u) = Σ_v 1/d(u,v), with the sum truncated at
    distance 3 (the standard bounded-radius approximation; beyond ~3
    hops the 1/d tail adds little and an exact all-pairs BFS stops
    being join-shaped). Graph: the nation trade graph sparsified to
    high-quantity pairs so distance structure exists.

    Exact distance layers by set algebra: D1 = adjacency, D2 =
    (D1∘D1) − D1 − self, D3 = (D2∘D1) − D2 − D1 − self — each layer is
    one equi-join + anti-joins, all on the 25-node edge list after the
    one corpus star-join pass. h = n1 + n2/2 + n3/3 evaluated as the
    same double expression in both engines.

    100 TB: the corpus cost is the distinct-edge star join; the BFS
    layers run on the nation-sized graph. For large vertex sets the
    same layered construction shards by source-node range (each layer
    stays an equi-join), or swaps to HyperANF sketches — noted, not
    needed at this graph's size."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    raw = pin(
        li.filter(F.col("l_quantity") >= HC_QTY_MIN)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct(),
        eager=True,
    )
    sym = (
        raw.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(raw.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    nodes = sym.select("u").distinct()
    p, q = sym.alias("p"), sym.alias("q")
    hop2 = (
        p.join(q, F.col("p.v") == F.col("q.u"))
        .filter(F.col("q.v") != F.col("p.u"))
        .select(F.col("p.u").alias("u"), F.col("q.v").alias("v"))
        .distinct()
        .join(sym, ["u", "v"], "left_anti")
    )
    h2, q2 = hop2.alias("h2"), sym.alias("q2")
    hop3 = (
        h2.join(q2, F.col("h2.v") == F.col("q2.u"))
        .filter(F.col("q2.v") != F.col("h2.u"))
        .select(F.col("h2.u").alias("u"), F.col("q2.v").alias("v"))
        .distinct()
        .join(sym, ["u", "v"], "left_anti")
        .join(hop2, ["u", "v"], "left_anti")
    )
    c1 = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    c2 = hop2.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    c3 = hop3.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("n3"))
    zero = F.lit(0).cast("bigint")
    counts = (
        nodes.join(c1, "u", "left")
        .join(c2, "u", "left")
        .join(c3, "u", "left")
        .select(
            F.col("u").alias("nationkey"),
            F.coalesce("n1", zero).alias("n1"),
            F.coalesce("n2", zero).alias("n2"),
            F.coalesce("n3", zero).alias("n3"),
        )
    )
    return counts.select(
        "nationkey",
        "n1",
        "n2",
        "n3",
        F.round(
            F.col("n1") + F.col("n2").cast("double") / 2 + F.col("n3").cast("double") / 3,
            9,
        ).alias("harmonic_at_3"),
    ).orderBy("nationkey")


@query(
    "orders_price_elasticity",
    oracle="""
    WITH per_part AS (
        SELECT p.p_brand AS brand, l.l_partkey,
               ln(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
                  / CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)) AS x,
               ln(CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM per_part GROUP BY brand
    )
    SELECT brand, n AS n_parts,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS elasticity,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
               AS log_intercept
    FROM m
    ORDER BY brand
    """,
    tags=("analytics", "econ"),
)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity of demand per brand by the standard log-log
    OLS (elasticity = d ln q / d ln p): each part contributes one
    (ln unit-price, ln total-quantity) observation; the per-brand slope
    is the pricing-team number behind markdown and promo decisions —
    the econometric sibling of the Laspeyres/Paasche index operator.

    Exactness: unit price is a ratio of exact decimal/integer sums;
    ln terms are identical doubles rounded at 1e-12 into
    decimal(38,12) sufficient statistics (the NLL discipline); the
    closed-form OLS algebra is the same double expression both sides.

    100 TB: one star-join + part-keyed agg (the corpus pass), then a
    brand-keyed agg over the parts table — both map-side combined."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_part = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), "l_partkey")
        .agg(
            F.log(
                F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).cast("double")
                / F.sum(F.col("l_quantity").cast("bigint")).cast("double")
            ).alias("x"),
            F.log(F.sum(F.col("l_quantity").cast("bigint")).cast("double")).alias("y"),
        )
    )
    x, y = F.col("x"), F.col("y")
    m = per_part.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(x, 12).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round(y, 12).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(x * x, 12).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum(F.round(x * y, 12).cast("decimal(38,12)")).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "brand",
        F.col("n").alias("n_parts"),
        F.round(slope, 9).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 9).alias(
            "log_intercept"
        ),
    ).orderBy("brand")


@query(
    "events_weibull_mrr",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
        FROM events GROUP BY user_id
    ),
    durs AS (
        SELECT user_id,
               CAST(floor(date_part('epoch', first_buy - first_seen) / 3600)
                    AS BIGINT) + 1 AS h
        FROM per_user
        WHERE first_buy IS NOT NULL AND first_buy > first_seen
    ),
    ranked AS (
        SELECT user_id, h,
               CAST(ROW_NUMBER() OVER (ORDER BY h, user_id) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM durs
    ),
    pts AS (
        SELECT ln(CAST(h AS DOUBLE)) AS x,
               ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3) / (n + 0.4))) AS y,
               n
        FROM ranked
    ),
    m AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT n AS n_users,
           round((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx), 9) AS shape_k,
           round(exp(-((sy - (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) * sx)
                       / cnt)
                     / ((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx))), 9)
               AS scale_hours
    FROM m
    """,
    tags=("events", "survival", "ml"),
)
def events_weibull_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit by MEDIAN-RANK REGRESSION (the reliability-
    engineering standard: Benard's approximation F_i = (i−0.3)/(n+0.4),
    then OLS of ln(−ln(1−F)) on ln t) for time-to-first-purchase —
    the parametric companion to the Kaplan-Meier / Nelson-Aalen
    operators: shape k < 1 means conversion hazard decays (convert
    early or never), k > 1 means it accumulates.

    Determinism: durations floor to integer hours (+1 to keep ln
    finite); the rank is (duration, user) — exact, computed as the
    DISTRIBUTED range-partitioned rank
    (operators.prefix.distributed_rank — at 100 TB the user table is
    billions of rows, so the Benard ranks never ride a
    single-partition window) with n arriving as a broadcast 1-row
    aggregate; ln/ln(−ln) terms round at 1e-12 into decimal sufficient
    statistics; the OLS algebra and the final exp are identical double
    text."""
    from supabase_etl_spark.operators.prefix import distributed_rank

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_buy"),
    )
    durs = per_user.filter(
        F.col("first_buy").isNotNull() & (F.col("first_buy") > F.col("first_seen"))
    ).select(
        "user_id",
        (
            F.floor(
                (F.unix_micros("first_buy") - F.unix_micros("first_seen"))
                / F.lit(3_600_000_000)
            )
            + 1
        )
        .cast("bigint")
        .alias("h"),
    )
    n1 = durs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        distributed_rank(durs, [F.asc("h"), F.asc("user_id")], out="i")
        .crossJoin(F.broadcast(n1))
        .select("h", F.col("i").cast("bigint").alias("i"), "n")
    )
    x = F.log(F.col("h").cast("double"))
    y = F.log(-F.log(F.lit(1.0) - (F.col("i").cast("double") - 0.3) / (F.col("n") + 0.4)))
    pts = ranked.select(x.alias("x"), y.alias("y"), "n")
    m = pts.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.round(F.col("x"), 12).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("y"), 12).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("cnt")
    return m.select(
        F.col("n").alias("n_users"),
        F.round(slope, 9).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 9).alias("scale_hours"),
    )


HURST_WINDOWS = (8, 16, 32, 64)  # R/S chunk lengths


@query(
    "events_hurst_rs",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t
        FROM daily
    ),
    chunked AS (
        SELECT w.n, CAST(floor(t / w.n) AS BIGINT) AS chunk, t, x
        FROM idx CROSS JOIN (
            SELECT unnest([{", ".join(str(w) for w in HURST_WINDOWS)}]) AS n
        ) w
    ),
    complete AS (
        SELECT n, chunk, t, x,
               CAST(count(*) OVER (PARTITION BY n, chunk) AS BIGINT) AS clen,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER (PARTITION BY n, chunk)
                    AS DOUBLE) / count(*) OVER (PARTITION BY n, chunk) AS mu
        FROM chunked
    ),
    dev AS (
        SELECT n, chunk, t, x, mu,
               SUM(x - mu) OVER (PARTITION BY n, chunk ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS z
        FROM complete WHERE clen = n
    ),
    rs AS (
        SELECT n, chunk,
               max(z) - min(z) AS r,
               sqrt(CAST(SUM(CAST(round((x - mu) * (x - mu), 6) AS DECIMAL(38,6)))
                         AS DOUBLE) / count(*)) AS s
        FROM dev GROUP BY n, chunk, mu
    ),
    mean_rs AS (
        SELECT n,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CAST(round(r / s, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*) AS rs_mean
        FROM rs WHERE s > 0 GROUP BY n
    ),
    pts AS (
        SELECT ln(CAST(n AS DOUBLE)) AS lx, ln(rs_mean) AS ly FROM mean_rs
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round(lx, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(lx * lx, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(lx * ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT m.n, m.n_chunks, round(m.rs_mean, 9) AS rs_mean,
           round((f.k * f.sxy - f.sx * f.sy) / (f.k * f.sxx - f.sx * f.sx), 9)
               AS hurst_h
    FROM mean_rs m CROSS JOIN fit f
    ORDER BY m.n
    """,
    tags=("events", "timeseries", "statistics"),
    uwin=(
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
    ),
)
def events_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis on the
    daily revenue series — the long-memory diagnostic (H > 0.5
    trending/persistent, H < 0.5 mean-reverting) that complements the
    short-lag ACF and burstiness operators. For each window length n ∈
    {HURST_WINDOWS}: chunk the series, R = range of cumulative
    deviations, S = population std; H is the slope of ln(mean R/S) on
    ln(n).

    Determinism: running deviation sums are ORDERED window folds —
    both engines add the same doubles in the same sequence, so Z is
    bit-identical; chunk stds come from round-6 decimal moments; R/S
    and the ln regression round at 1e-12 into decimal sums. Scale: one
    corpus groupBy to days; every window partitions by (n, chunk) —
    at most 64 rows each."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("x")
    )
    idx = daily.select(
        "x", (F.row_number().over(Window.orderBy("day")) - 1).alias("t")
    )
    windows = spark.createDataFrame(
        [(int(w),) for w in HURST_WINDOWS], "n bigint"
    )
    chunked = idx.crossJoin(F.broadcast(windows)).select(
        "n", F.floor(F.col("t") / F.col("n")).cast("bigint").alias("chunk"), "t", "x"
    )
    wch = Window.partitionBy("n", "chunk")
    complete = chunked.select(
        "n",
        "chunk",
        "t",
        "x",
        F.count(F.lit(1)).over(wch).cast("bigint").alias("clen"),
        (
            F.sum(F.col("x").cast("decimal(28,6)")).over(wch).cast("double")
            / F.count(F.lit(1)).over(wch)
        ).alias("mu"),
    ).filter(F.col("clen") == F.col("n"))
    wz = Window.partitionBy("n", "chunk").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = complete.select(
        "n",
        "chunk",
        "x",
        "mu",
        F.sum(F.col("x") - F.col("mu")).over(wz).alias("z"),
    )
    rs = dev.groupBy("n", "chunk", "mu").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(
            F.sum(
                F.round((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("s"),
    )
    mean_rs = (
        rs.filter(F.col("s") > 0)
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            (
                F.sum(F.round(F.col("r") / F.col("s"), 12).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("rs_mean"),
        )
    )
    lx = F.log(F.col("n").cast("double"))
    ly = F.log("rs_mean")
    fit = mean_rs.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.round(lx, 12).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round(ly, 12).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(lx * lx, 12).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum(F.round(lx * ly, 12).cast("decimal(38,12)")).cast("double").alias("sxy"),
    )
    return (
        mean_rs.crossJoin(F.broadcast(fit))
        .select(
            "n",
            "n_chunks",
            F.round("rs_mean", 9).alias("rs_mean"),
            F.round(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
                9,
            ).alias("hurst_h"),
        )
        .orderBy("n")
    )


@query(
    "graph_betweenness_bounded",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_quantity >= {HC_QTY_MIN} AND s.s_nationkey <> c.c_nationkey
    ),
    sym AS (SELECT a AS u, b AS v FROM raw UNION SELECT b, a FROM raw),
    nodes AS (SELECT DISTINCT u FROM sym),
    d2 AS (
        SELECT DISTINCT p.u AS s, q.v AS t
        FROM sym p JOIN sym q ON p.v = q.u
        WHERE q.v <> p.u
          AND NOT EXISTS (SELECT 1 FROM sym e WHERE e.u = p.u AND e.v = q.v)
    ),
    d3 AS (
        SELECT DISTINCT p.s, q.v AS t
        FROM d2 p JOIN sym q ON p.t = q.u
        WHERE q.v <> p.s
          AND NOT EXISTS (SELECT 1 FROM sym e WHERE e.u = p.s AND e.v = q.v)
          AND NOT EXISTS (SELECT 1 FROM d2 x WHERE x.s = p.s AND x.t = q.v)
    ),
    mid2 AS (
        SELECT p.u AS s, q.v AS t, p.v AS mid
        FROM sym p JOIN sym q ON p.v = q.u
        JOIN d2 ON d2.s = p.u AND d2.t = q.v
    ),
    sigma2 AS (SELECT s, t, CAST(count(*) AS BIGINT) AS sg FROM mid2 GROUP BY s, t),
    cred2 AS (
        SELECT m.mid AS v,
               CAST(SUM(CAST(round(1.0 / g.sg, 12) AS DECIMAL(38,12))) AS DOUBLE)
                   AS credit
        FROM mid2 m JOIN sigma2 g ON m.s = g.s AND m.t = g.t
        GROUP BY m.mid
    ),
    paths3 AS (
        SELECT e1.u AS s, e1.v AS m1, e2.v AS m2, e3.v AS t
        FROM sym e1
        JOIN sym e2 ON e2.u = e1.v
        JOIN sym e3 ON e3.u = e2.v
        JOIN d3 ON d3.s = e1.u AND d3.t = e3.v
        WHERE e2.v <> e1.u AND e3.v <> e2.u
    ),
    sigma3 AS (SELECT s, t, CAST(count(*) AS BIGINT) AS sg FROM paths3 GROUP BY s, t),
    cred3 AS (
        SELECT v, CAST(SUM(CAST(round(1.0 / sg, 12) AS DECIMAL(38,12))) AS DOUBLE)
               AS credit
        FROM (
            SELECT p.m1 AS v, g.sg FROM paths3 p
            JOIN sigma3 g ON p.s = g.s AND p.t = g.t
            UNION ALL
            SELECT p.m2, g.sg FROM paths3 p
            JOIN sigma3 g ON p.s = g.s AND p.t = g.t
        ) GROUP BY v
    )
    SELECT n.u AS nationkey,
           round((COALESCE(c2.credit, 0) + COALESCE(c3.credit, 0)) / 2.0, 9)
               AS betweenness_at_3
    FROM nodes n
    LEFT JOIN cred2 c2 ON c2.v = n.u
    LEFT JOIN cred3 c3 ON c3.v = n.u
    ORDER BY nationkey
    """,
    tags=("graph", "centrality"),
)
def graph_betweenness_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT betweenness centrality truncated at distance 3 on the
    sparsified trade graph — shortest-path brokerage, the centrality
    the degree/harmonic family can't see: b(v) = Σ_{{s≠t}}
    σ_st(v)/σ_st. Distance-2 pairs credit each common neighbor
    1/σ; distance-3 pairs enumerate their shortest paths (two joins
    closed against the d3 layer) and credit both interior nodes.
    Ordered-pair credits halve at the end (undirected convention).

    This is Brandes' accumulation computed by SET ALGEBRA instead of
    per-source BFS stacks — every layer is an equi-join + anti-join,
    so it distributes; the truncation radius bounds the join depth
    exactly like graph_harmonic_centrality. σ and path counts are
    exact integers; the 1/σ credits round at 1e-12 into decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    raw = pin(
        li.filter(F.col("l_quantity") >= HC_QTY_MIN)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct(),
        eager=True,
    )
    sym = pin(
        raw.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(raw.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct(),
        eager=True,
    )
    nodes = sym.select("u").distinct()
    p, q = sym.alias("p"), sym.alias("q")
    d2 = pin(
        p.join(q, F.col("p.v") == F.col("q.u"))
        .filter(F.col("q.v") != F.col("p.u"))
        .select(F.col("p.u").alias("s"), F.col("q.v").alias("t"))
        .distinct()
        .join(
            sym.select(F.col("u").alias("s"), F.col("v").alias("t")),
            ["s", "t"],
            "left_anti",
        ),
        eager=True,
    )
    d2a = d2.alias("d2a")
    d3 = pin(
        d2a.join(q, F.col("d2a.t") == F.col("q.u"))
        .filter(F.col("q.v") != F.col("d2a.s"))
        .select(F.col("d2a.s").alias("s"), F.col("q.v").alias("t"))
        .distinct()
        .join(
            sym.select(F.col("u").alias("s"), F.col("v").alias("t")),
            ["s", "t"],
            "left_anti",
        )
        .join(d2, ["s", "t"], "left_anti"),
        eager=True,
    )
    mid2 = (
        p.join(q, F.col("p.v") == F.col("q.u"))
        .select(
            F.col("p.u").alias("s"), F.col("q.v").alias("t"), F.col("p.v").alias("mid")
        )
        .join(d2, ["s", "t"])
    )
    sigma2 = mid2.groupBy("s", "t").agg(F.count(F.lit(1)).cast("bigint").alias("sg"))
    cred2 = (
        mid2.join(sigma2, ["s", "t"])
        .groupBy(F.col("mid").alias("v"))
        .agg(
            F.sum(F.round(F.lit(1.0) / F.col("sg"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("credit")
        )
    )
    e1, e2, e3 = sym.alias("e1"), sym.alias("e2"), sym.alias("e3")
    paths3 = pin(
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, F.col("e3.u") == F.col("e2.v"))
        .filter((F.col("e2.v") != F.col("e1.u")) & (F.col("e3.v") != F.col("e2.u")))
        .select(
            F.col("e1.u").alias("s"),
            F.col("e1.v").alias("m1"),
            F.col("e2.v").alias("m2"),
            F.col("e3.v").alias("t"),
        )
        .join(d3, ["s", "t"]),
        eager=True,
    )
    sigma3 = paths3.groupBy("s", "t").agg(F.count(F.lit(1)).cast("bigint").alias("sg"))
    mids = paths3.join(sigma3, ["s", "t"]).select(
        F.col("m1").alias("v"), "sg"
    ).unionAll(paths3.join(sigma3, ["s", "t"]).select(F.col("m2").alias("v"), "sg"))
    cred3 = mids.groupBy("v").agg(
        F.sum(F.round(F.lit(1.0) / F.col("sg"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("credit")
    )
    return (
        nodes.join(cred2.withColumnRenamed("credit", "c2"), nodes["u"] == cred2["v"], "left")
        .drop("v")
        .join(cred3.withColumnRenamed("credit", "c3"), nodes["u"] == cred3["v"], "left")
        .drop("v")
        .select(
            F.col("u").alias("nationkey"),
            F.round(
                (F.coalesce("c2", F.lit(0.0)) + F.coalesce("c3", F.lit(0.0))) / 2.0, 9
            ).alias("betweenness_at_3"),
        )
        .orderBy("nationkey")
    )


@query(
    "events_binseg_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT day, x,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cx,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER () AS DOUBLE) AS sx
        FROM daily
    ),
    gains AS (
        SELECT day, t, n,
               round(cx * cx / t + (sx - cx) * (sx - cx) / (n - t)
                     - sx * sx / n, 6) AS gain
        FROM idx WHERE t < n
    ),
    best AS (
        SELECT day, t, n, gain,
               ROW_NUMBER() OVER (ORDER BY gain DESC, t) AS rn
        FROM gains
    )
    SELECT t AS split_after, day AS split_day, n AS n_days,
           round(gain, 6) AS sse_reduction
    FROM best WHERE rn = 1
    """,
    tags=("events", "timeseries", "changepoint"),
    uwin=(
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
    ),
)
def events_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint (the first split of the classic
    recursive detector; Scott & Knott 1974): the day t whose mean-shift
    split maximizes the between-segment sum-of-squares reduction
    gain(t) = Sx(≤t)²/t + Sx(>t)²/(n−t) − Sx²/n — the OFFLINE
    complement to the online CUSUM operator (CUSUM alarms as data
    arrives; binseg names the single best historical break).

    Exactness: the cumulative revenue prefix runs through decimal sums
    (ordered window, identical fold in both engines); the gain is one
    double expression quantized at 1e-6 before the argmax rank with a
    t tie-break. Scale: one corpus groupBy to days, then day-grained
    windows (the bounded-table pattern)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("x")
    )
    wo = Window.orderBy("day")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        F.row_number().over(wo).cast("bigint").alias("t"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).over(wcum).cast("double").alias("cx"),
        F.sum(F.col("x").cast("decimal(28,6)")).over(wall).cast("double").alias("sx"),
    )
    gain = F.round(
        F.col("cx") * F.col("cx") / F.col("t")
        + (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx")) / (F.col("n") - F.col("t"))
        - F.col("sx") * F.col("sx") / F.col("n"),
        6,
    )
    gains = idx.filter(F.col("t") < F.col("n")).select(
        "day", "t", "n", gain.alias("gain")
    )
    wbest = Window.orderBy(F.col("gain").desc(), "t")
    return (
        gains.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            F.col("t").alias("split_after"),
            F.col("day").alias("split_day"),
            F.col("n").alias("n_days"),
            F.round("gain", 6).alias("sse_reduction"),
        )
    )


@query(
    "events_periodicity_chi2",
    oracle="""
    WITH hours AS (
        SELECT event_type,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(range(0, 24)) AS h) g
    ),
    filled AS (
        SELECT g.event_type, g.h, COALESCE(hr.c, 0) AS c
        FROM grid g LEFT JOIN hours hr
          ON g.event_type = hr.event_type AND g.h = hr.h
    ),
    tot AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM filled GROUP BY 1
    )
    SELECT f.event_type, t.n AS n_events,
           round(SUM((c - t.n / 24.0) * (c - t.n / 24.0)) / (t.n / 24.0), 9)
               AS chi2_uniform,
           CAST(max(c) AS BIGINT) AS peak_hour_count,
           CAST(min(CASE WHEN c = (SELECT max(c2.c) FROM filled c2
                                   WHERE c2.event_type = f.event_type)
                         THEN h END) AS BIGINT) AS peak_hour
    FROM filled f JOIN tot t ON f.event_type = t.event_type
    GROUP BY f.event_type, t.n
    ORDER BY f.event_type
    """,
    tags=("events", "statistics"),
)
def events_periodicity_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal-periodicity chi-square per event type — is traffic
    uniform over the 24 hours, and where is the peak? χ² against the
    uniform expectation n/24 over the zero-filled hour grid (23 df);
    the peak hour reports with a min-hour tie-break. Complements the
    bot-regularity screen (per-user cadence) with the population-level
    seasonality a capacity planner reads.

    Exactness: counts are integers; the χ² terms share one double
    expression (c − n/24)²/(n/24) summed over a FIXED 24-cell grid —
    sequential and identical in both engines (grid-bounded, no decimal
    discipline needed beyond the shared text). One corpus groupBy."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(spark.range(24).select(F.col("id").alias("h")))
    )
    filled = pin(grid.join(hours, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0).cast("bigint")).alias("c")
    ))  # 24xtypes grid, 2 consumers (scan-leaf lint)
    tot = filled.groupBy("event_type").agg(F.sum("c").cast("bigint").alias("n"))
    j = filled.join(tot, "event_type")
    exp = F.col("n") / 24.0
    wmax = Window.partitionBy("event_type")
    peak = j.withColumn("cmax", F.max("c").over(wmax))
    return (
        peak.groupBy("event_type", "n")
        .agg(
            F.round(
                F.sum((F.col("c") - exp) * (F.col("c") - exp)) / exp, 9
            ).alias("chi2_uniform"),
            F.max("c").cast("bigint").alias("peak_hour_count"),
            F.min(F.when(F.col("c") == F.col("cmax"), F.col("h")))
            .cast("bigint")
            .alias("peak_hour"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            "chi2_uniform",
            "peak_hour_count",
            "peak_hour",
        )
        .orderBy("event_type")
    )


TRAJ_DAYS = 14  # trajectory length (first 14 days of the corpus)
TRAJ_TAU = 60.0  # Chebyshev acceptance radius
TRAJ_TOP_K = 3


@query(
    "events_trajectory_topk",
    oracle=f"""
    WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    cells AS (
        SELECT user_id,
               date_diff('day', (SELECT d0 FROM bounds), CAST(ts AS DATE)) + 1
                   AS d,
               round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                     / count(*), 6) AS v
        FROM events
        WHERE date_diff('day', (SELECT d0 FROM bounds), CAST(ts AS DATE))
                < {TRAJ_DAYS}
        GROUP BY 1, 2
    ),
    users AS (SELECT DISTINCT user_id FROM cells),
    grid AS (
        SELECT u.user_id, g.d
        FROM users u CROSS JOIN (SELECT unnest(range(1, {TRAJ_DAYS + 1})) AS d) g
    ),
    filled AS (
        SELECT g.user_id, g.d, COALESCE(c.v, 0.0) AS v
        FROM grid g LEFT JOIN cells c
          ON g.user_id = c.user_id AND g.d = c.d
    ),
    traj AS (
        SELECT user_id,
               list(v ORDER BY d) AS t,
               round(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
                     / {TRAJ_DAYS}, 6) AS mu
        FROM filled GROUP BY user_id
    ),
    keyed AS (
        SELECT user_id, t,
               CAST(floor(mu / {TRAJ_TAU!r}) AS BIGINT) AS b
        FROM traj
    ),
    cand AS (
        SELECT a.user_id AS ua, b.user_id AS ub, a.t AS ta, b.t AS tb
        FROM keyed a JOIN keyed b
          ON b.b BETWEEN a.b - 1 AND a.b + 1
         AND a.user_id <> b.user_id
    ),
    dist AS (
        SELECT ua, ub,
               round(list_max(list_transform(range(1, {TRAJ_DAYS + 1}),
                                             i -> abs(ta[i] - tb[i]))), 9) AS dist
        FROM cand
    ),
    ranked AS (
        SELECT ua, ub, dist,
               ROW_NUMBER() OVER (PARTITION BY ua ORDER BY dist, ub) AS rn
        FROM dist WHERE dist <= {TRAJ_TAU!r}
    )
    SELECT ua AS user_id, rn, ub AS neighbor, dist
    FROM ranked WHERE rn <= {TRAJ_TOP_K}
    ORDER BY user_id, rn
    """,
    tags=("events", "similarity", "trajectory"),
)
def events_trajectory_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k trajectory similarity search (the REPOSE problem shape —
    distributed top-k over trajectories with reference-point pruning,
    ICDE 2021 — expressed with a mean-signature band as the reference
    structure): each user's first {TRAJ_DAYS} days become a 0-filled
    daily-mean trajectory; similarity is the Chebyshev (aligned L∞)
    distance; candidates prune by the signature bound |mean_a − mean_b|
    ≤ max_d |a_d − b_d|, so only ±1 mean-band neighbors are verified —
    never all user pairs. Per user: the {TRAJ_TOP_K} nearest within
    radius {TRAJ_TAU}.

    Exactness: cell means quantize at 1e-6 BEFORE any distance; the
    pairwise max-|diff| is a HOF fold over aligned arrays (identical
    in both engines); distances quantize at 1e-9 before ranking with a
    neighbor tie-break. Scale: trajectory build is one corpus groupBy;
    the verify join is band-blocked (block population bounds the pair
    count, the SNM argument); arrays are fixed {TRAJ_DAYS}-element."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    cells = pin(
        ev.crossJoin(F.broadcast(d0))
        .withColumn("d", F.datediff(F.to_date("ts"), F.col("d0")) + 1)
        .filter(F.col("d") <= TRAJ_DAYS)
        .groupBy("user_id", "d")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("v")
        )
    )  # 2 consumers (scan-leaf lint)
    users = cells.select("user_id").distinct()
    grid = users.crossJoin(
        F.broadcast(spark.range(1, TRAJ_DAYS + 1).select(F.col("id").alias("d")))
    )
    filled = grid.join(cells, ["user_id", "d"], "left").select(
        "user_id", "d", F.coalesce("v", F.lit(0.0)).alias("v")
    )
    traj = filled.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s.v
        ).alias("t"),
        F.round(
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / TRAJ_DAYS, 6
        ).alias("mu"),
    )
    keyed = pin(traj.select(
        "user_id", "t", F.floor(F.col("mu") / TRAJ_TAU).cast("bigint").alias("b")
    ))  # self-joined (scan-leaf lint)
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
        F.round(
            F.array_max(F.zip_with("ta", "tb", lambda x, y: F.abs(x - y))), 9
        ).alias("dist"),
    )
    w = Window.partitionBy("ua").orderBy("dist", "ub")
    return (
        dist.filter(F.col("dist") <= TRAJ_TAU)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TRAJ_TOP_K)
        .select(F.col("ua").alias("user_id"), "rn", F.col("ub").alias("neighbor"), "dist")
        .orderBy("user_id", "rn")
    )


PL_KMIN = 2  # power-law fit: degrees >= kmin


@query(
    "graph_powerlaw_alpha",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS v
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS k FROM e GROUP BY u
    ),
    tail AS (
        SELECT k FROM deg WHERE k >= {PL_KMIN}
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(ln(CAST(k AS DOUBLE) / ({PL_KMIN} - 0.5)), 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS slnk
        FROM tail
    )
    SELECT n AS n_tail,
           {PL_KMIN} AS k_min,
           round(1.0 + n / slnk, 9) AS alpha_mle,
           round((1.0 + n / slnk - 1.0) / sqrt(CAST(n AS DOUBLE)), 9)
               AS alpha_se
    FROM fit
    """,
    tags=("graph", "statistics"),
)
def graph_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the customer-degree distribution by the
    Clauset-Shalizi-Newman discrete MLE (α = 1 + n/Σln(k/(kmin−½)),
    SE = (α−1)/√n) — the scale-free-ness diagnostic behind every
    'is this graph heavy-tailed enough to need skew handling' decision;
    pairs with the Zipf rank-frequency fit (text) and the degree
    assortativity operator (structure).

    Exactness: degrees are exact integers; the ln(k/(kmin−½)) terms
    round at 1e-12 into one decimal sum; the MLE algebra is a shared
    double expression. One distinct-edge star join + one degree agg."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("v"))
        .distinct()
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    tail = deg.filter(F.col("k") >= PL_KMIN)
    fit = tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.round(F.log(F.col("k").cast("double") / (PL_KMIN - 0.5)), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("slnk"),
    )
    alpha = F.lit(1.0) + F.col("n") / F.col("slnk")
    return fit.select(
        F.col("n").alias("n_tail"),
        F.lit(PL_KMIN).alias("k_min"),
        F.round(alpha, 9).alias("alpha_mle"),
        F.round((alpha - 1.0) / F.sqrt(F.col("n").cast("double")), 9).alias("alpha_se"),
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_quantity >= {HC_QTY_MIN} AND s.s_nationkey <> c.c_nationkey
    ),
    sym AS (SELECT a AS u, b AS v FROM raw UNION SELECT b, a FROM raw),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY u),
    tri AS (
        -- triangles per vertex: closed wedges centered at u
        SELECT w1.u, CAST(count(*) AS BIGINT) AS closed2
        FROM sym w1
        JOIN sym w2 ON w1.u = w2.u AND w1.v < w2.v
        JOIN sym e ON e.u = w1.v AND e.v = w2.v
        GROUP BY w1.u
    ),
    loc AS (
        SELECT d.u, d.k, COALESCE(t.closed2, 0) AS t2,
               CASE WHEN d.k >= 2
                    THEN round(2.0 * COALESCE(t.closed2, 0) / (d.k * (d.k - 1)), 9)
                    ELSE 0.0 END AS c_local
        FROM deg d LEFT JOIN tri t ON d.u = t.u
    )
    SELECT u AS nationkey, k AS degree, t2 AS n_triangles, c_local,
           round((SELECT CAST(SUM(CAST(round(l2.c_local, 9) AS DECIMAL(38,9)))
                              AS DOUBLE) / count(*) FROM loc l2), 9)
               AS mean_local_cc,
           round((SELECT 1.0 * SUM(t2) / greatest(SUM(k * (k - 1)) / 2, 1)
                  FROM loc), 9) AS global_transitivity
    FROM loc
    ORDER BY nationkey
    """,
    tags=("graph",),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node + the two global summaries
    (Watts-Strogatz mean-local CC and the transitivity ratio
    3·triangles/wedges) on the sparsified trade graph — the
    small-world diagnostic the triangle-count operator feeds but never
    normalized. C_local(u) = 2·T(u)/(k(k−1)); closed wedges come from
    the same vertex-keyed wedge-close join as graph_ktruss.

    Exactness: triangle and degree counts are exact integers; the two
    coefficient forms are shared double expressions rounded at 9, with
    the mean-local average run through a decimal sum. Scale: the
    corpus pass is the distinct-edge star join; wedges are
    degree-bounded on the nation graph (the k-truss argument)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    raw = pin(
        li.filter(F.col("l_quantity") >= HC_QTY_MIN)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct(),
        eager=True,
    )
    sym = (
        raw.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(raw.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    w1, w2, e = sym.alias("w1"), sym.alias("w2"), sym.alias("e")
    tri = (
        w1.join(
            w2, (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.v") < F.col("w2.v"))
        )
        .join(
            e,
            (F.col("e.u") == F.col("w1.v")) & (F.col("e.v") == F.col("w2.v")),
        )
        .groupBy(F.col("w1.u").alias("u"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("t2"))
    )
    loc = deg.join(tri, "u", "left").select(
        "u",
        "k",
        F.coalesce("t2", F.lit(0).cast("bigint")).alias("t2"),
        F.when(
            F.col("k") >= 2,
            F.round(
                F.lit(2.0) * F.coalesce("t2", F.lit(0)) / (F.col("k") * (F.col("k") - 1)),
                9,
            ),
        )
        .otherwise(0.0)
        .alias("c_local"),
    )
    summ = loc.agg(
        F.round(
            F.sum(F.round("c_local", 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_local_cc"),
        F.round(
            F.lit(1.0)
            * F.sum("t2")
            / F.greatest(F.sum(F.col("k") * (F.col("k") - 1)) / 2, F.lit(1)),
            9,
        ).alias("global_transitivity"),
    )
    return (
        loc.crossJoin(F.broadcast(summ))
        .select(
            F.col("u").alias("nationkey"),
            F.col("k").alias("degree"),
            F.col("t2").alias("n_triangles"),
            "c_local",
            "mean_local_cc",
            "global_transitivity",
        )
        .orderBy("nationkey")
    )


@query(
    "events_exponential_fit_gof",
    oracle="""
    WITH purch AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT CAST(floor(date_part('epoch', ts - prev) / 60) AS BIGINT) + 1 AS g
        FROM purch WHERE prev IS NOT NULL
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               count(*) / CAST(SUM(CAST(g AS DECIMAL(28,0))) AS DOUBLE) AS lam
        FROM gaps
    ),
    ranked AS (
        SELECT g,
               CAST(ROW_NUMBER() OVER (ORDER BY g) AS BIGINT) AS i,
               (SELECT n FROM fit) AS n, (SELECT lam FROM fit) AS lam
        FROM gaps
    ),
    ks AS (
        SELECT n, lam,
               max(greatest(
                   abs(CAST(i AS DOUBLE) / n - round(1.0 - exp(-lam * g), 9)),
                   abs(round(1.0 - exp(-lam * g), 9) - CAST(i - 1 AS DOUBLE) / n)
               )) AS d
        FROM ranked GROUP BY n, lam
    )
    SELECT n AS n_gaps,
           round(lam * 60.0, 9) AS rate_per_hour,
           round(d, 9) AS ks_statistic,
           round(d * (sqrt(CAST(n AS DOUBLE)) + 0.12
                      + 0.11 / sqrt(CAST(n AS DOUBLE))), 9) AS ks_scaled
    FROM ks
    """,
    tags=("events", "statistics", "timeseries"),
    uwin=(
        'duration-bucket grid (bounded)',
    ),
)
def events_exponential_fit_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential MLE fit of inter-purchase gaps + one-sample KS
    goodness-of-fit (with the Stephens small-sample scaling) — the 'is
    this really a Poisson process' check that decides whether the
    burstiness/Fano operators are even needed: λ̂ = n/Σgap, D = sup-gap
    between the empirical staircase and 1 − e^(−λt), both one-sided
    gaps per sorted observation.

    Determinism: gaps floor to integer minutes (+1); λ is an exact
    integer ratio; the model CDF quantizes at 1e-9 before the sup (exp
    differs by ≤1 ulp across libms — the quantize absorbs it); ranks
    tie-break on the integer gap itself, and equal gaps produce equal
    CDF values so rank order inside ties cannot move the max. The
    ranked window is user-event-bounded (see the dq_drift_ks note for
    the corpus-scale swap)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    purch = ev.select(
        "user_id", "ts", F.lag("ts").over(wo).alias("prev")
    ).filter(F.col("prev").isNotNull())
    gaps = purch.select(
        (
            F.floor((F.unix_micros("ts") - F.unix_micros("prev")) / F.lit(60_000_000))
            + 1
        )
        .cast("bigint")
        .alias("g")
    )
    fit = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.count(F.lit(1))
            / F.sum(F.col("g").cast("decimal(28,0)")).cast("double")
        ).alias("lam"),
    )
    ranked = gaps.crossJoin(F.broadcast(fit)).select(
        "g",
        F.row_number().over(Window.orderBy("g")).cast("bigint").alias("i"),
        "n",
        "lam",
    )
    cdf = F.round(F.lit(1.0) - F.exp(-F.col("lam") * F.col("g")), 9)
    ks = ranked.groupBy("n", "lam").agg(
        F.max(
            F.greatest(
                F.abs(F.col("i").cast("double") / F.col("n") - cdf),
                F.abs(cdf - (F.col("i") - 1).cast("double") / F.col("n")),
            )
        ).alias("d")
    )
    return ks.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("lam") * 60.0, 9).alias("rate_per_hour"),
        F.round("d", 9).alias("ks_statistic"),
        F.round(
            F.col("d")
            * (
                F.sqrt(F.col("n").cast("double"))
                + 0.12
                + 0.11 / F.sqrt(F.col("n").cast("double"))
            ),
            9,
        ).alias("ks_scaled"),
    )


@query(
    "events_velocity_features",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts,
               CAST(date_part('epoch', ts) AS BIGINT) AS sec
        FROM events
    ),
    feat AS (
        SELECT user_id, event_id,
               CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                                   RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS n_1h,
               CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                                   RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS n_24h
        FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(n_1h) AS BIGINT) AS max_velocity_1h,
           CAST(max(n_24h) AS BIGINT) AS max_velocity_24h,
           round(CAST(SUM(n_24h) AS DOUBLE) / count(*), 9) AS mean_velocity_24h
    FROM feat
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "features"),
)
def events_velocity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time VELOCITY features — the feature-store staple
    (fraud/abuse models run on 'how many events did this entity emit
    in the trailing 1h/24h as of each event', computed with strictly
    PRIOR events so there is no label leakage): event-time RANGE
    frames ending at 1 PRECEDING second give the leak-free trailing
    counts, then a per-user rollup reports the velocity profile.

    Exactness: frame bounds are integer epoch seconds — both engines
    count the same rows; the only float is one mean of integers.
    Scale: one user-keyed window (the entity partitioning every
    feature store shards by) + one user-keyed agg — same shuffle."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.floor(F.unix_micros("ts") / F.lit(1_000_000)).cast("bigint").alias("sec"),
    )
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, -1)
    )
    w24 = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-86400, -1)
    )
    feat = e.select(
        "user_id",
        F.count(F.lit(1)).over(w1).cast("bigint").alias("n_1h"),
        F.count(F.lit(1)).over(w24).cast("bigint").alias("n_24h"),
    )
    return (
        feat.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("n_1h").cast("bigint").alias("max_velocity_1h"),
            F.max("n_24h").cast("bigint").alias("max_velocity_24h"),
            F.round(F.sum("n_24h").cast("double") / F.count(F.lit(1)), 9).alias(
                "mean_velocity_24h"
            ),
        )
        .orderBy("user_id")
    )


KDE_POINTS = 16  # evaluation grid size
KDE_BW = 25.0  # Gaussian bandwidth in value units


@query(
    "events_kde_density",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(value AS DOUBLE) AS x FROM events
        WHERE event_type = 'purchase'
    ),
    n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
    grid AS (
        SELECT g AS gi, 250.0 * (g + 0.5) / {KDE_POINTS} AS x0
        FROM (SELECT unnest(range(0, {KDE_POINTS})) AS g)
    ),
    terms AS (
        SELECT g.gi, g.x0,
               round(exp(-0.5 * ((v.x - g.x0) / {KDE_BW!r})
                         * ((v.x - g.x0) / {KDE_BW!r})), 12) AS kv
        FROM grid g CROSS JOIN vals v
    )
    SELECT gi, round(x0, 6) AS x0,
           (SELECT n FROM n_) AS n,
           round(CAST(SUM(CAST(kv AS DECIMAL(38,12))) AS DOUBLE)
                 / ((SELECT n FROM n_) * {KDE_BW!r}
                    * CAST('2.5066282746310002' AS DOUBLE)), 9) AS density
    FROM terms
    GROUP BY gi, x0
    ORDER BY gi
    """,
    tags=("events", "statistics"),
)
def events_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel density estimate of purchase values on a fixed
    {KDE_POINTS}-point grid — the smooth-distribution view the fixed-
    width histogram operator quantizes away (mode hunting, bimodality
    checks before a mixture fit). f̂(x₀) = Σᵢ K((x₀−xᵢ)/h) / (n·h·√2π)
    with h = {KDE_BW}; √2π is a string-cast shared literal.

    Exactness: per-row kernel values are one shared exp expression
    rounded at 1e-12 into decimal sums per grid point (exp's possible
    last-ulp libm split is absorbed by the quantize — the NLL
    discipline). Scale: the grid broadcasts; ONE corpus scan computes
    all {KDE_POINTS} partial sums map-side; the shuffle is grid-sized."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    vals = ev.select(F.col("value").cast("double").alias("x"))
    n_ = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = spark.range(KDE_POINTS).select(
        F.col("id").alias("gi"),
        (F.lit(250.0) * (F.col("id") + 0.5) / KDE_POINTS).alias("x0"),
    )
    z = (F.col("x") - F.col("x0")) / KDE_BW
    terms = vals.crossJoin(F.broadcast(grid)).select(
        "gi", "x0", F.round(F.exp(F.lit(-0.5) * z * z), 12).alias("kv")
    )
    sqrt2pi = F.expr("CAST('2.5066282746310002' AS DOUBLE)")
    return (
        terms.groupBy("gi", "x0")
        .agg(F.sum(F.col("kv").cast("decimal(38,12)")).cast("double").alias("s"))
        .crossJoin(F.broadcast(n_))
        .select(
            "gi",
            F.round("x0", 6).alias("x0"),
            "n",
            F.round(F.col("s") / (F.col("n") * KDE_BW * sqrt2pi), 9).alias("density"),
        )
        .orderBy("gi")
    )


POT_THRESHOLD = 200.0  # peaks-over-threshold cutoff on event value


@query(
    "events_pot_gpd",
    oracle=f"""
    WITH exc AS (
        SELECT CAST(value AS DOUBLE) - {POT_THRESHOLD!r} AS e
        FROM events WHERE value > {POT_THRESHOLD!r}
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM events),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(e, 6) AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*) AS mu,
               (CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(38,6))) AS DOUBLE)
                - CAST(SUM(CAST(round(e, 6) AS DECIMAL(38,6))) AS DOUBLE)
                  * CAST(SUM(CAST(round(e, 6) AS DECIMAL(38,6))) AS DOUBLE)
                  / count(*)) / (count(*) - 1) AS var
        FROM exc
    ),
    fit AS (
        SELECT n, mu, var,
               0.5 * (mu * mu / var - 1.0) AS xi_neg,
               0.5 * mu * (mu * mu / var + 1.0) AS sigma
        FROM m
    )
    SELECT n AS n_exceedances,
           (SELECT n_all FROM tot) AS n_total,
           round(mu, 9) AS mean_excess,
           round(-xi_neg, 9) AS gpd_shape_xi,
           round(sigma, 9) AS gpd_scale_sigma,
           round({POT_THRESHOLD!r} + sigma / (-xi_neg)
                 * (POWER(CAST(n AS DOUBLE) / (SELECT n_all FROM tot)
                          * (SELECT n_all FROM tot) / 100.0, -xi_neg) - 1.0), 9)
               AS return_level_100
    FROM fit
    """,
    tags=("events", "statistics", "extreme-value"),
)
def events_pot_gpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value fit: generalized Pareto by
    method of moments (ξ = ½(1 − μ²/s²), σ = ½μ(μ²/s² + 1)) on event
    values exceeding {POT_THRESHOLD} — the threshold-based half of
    extreme-value theory (the Gumbel operator is the block-maxima
    half; POT uses every exceedance, so it is the one capacity/risk
    teams actually fit), plus the 1-in-100-observation return level
    u + σ/ξ·((m·ζ)^ξ − 1).

    Exactness: exceedances and their squares round at 1e-6 into
    decimal moments (values carry 2 true decimals); the MoM algebra
    and return level are one shared double expression. One filtered
    scan + one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    exc = ev.filter(F.col("value") > POT_THRESHOLD).select(
        (F.col("value").cast("double") - POT_THRESHOLD).alias("e")
    )
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    m = exc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.round("e", 6).cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        (
            (
                F.sum(F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,6)")).cast("double")
                - F.sum(F.round("e", 6).cast("decimal(38,6)")).cast("double")
                * F.sum(F.round("e", 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("var"),
    )
    xi_neg = F.lit(0.5) * (F.col("mu") * F.col("mu") / F.col("var") - 1.0)
    sigma = F.lit(0.5) * F.col("mu") * (F.col("mu") * F.col("mu") / F.col("var") + 1.0)
    fit = m.crossJoin(F.broadcast(tot)).select(
        "n", "n_all", "mu", xi_neg.alias("xi_neg"), sigma.alias("sigma")
    )
    xi = -F.col("xi_neg")
    rl = F.lit(POT_THRESHOLD) + F.col("sigma") / xi * (
        F.pow(
            F.col("n").cast("double") / F.col("n_all") * F.col("n_all") / 100.0, xi
        )
        - 1.0
    )
    return fit.select(
        F.col("n").alias("n_exceedances"),
        F.col("n_all").alias("n_total"),
        F.round("mu", 9).alias("mean_excess"),
        F.round(xi, 9).alias("gpd_shape_xi"),
        F.round("sigma", 9).alias("gpd_scale_sigma"),
        F.round(rl, 9).alias("return_level_100"),
    )


@query(
    "events_harrell_cindex",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS first_seen,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy,
               max(ts) AS last_seen,
               CAST(count(CASE WHEN CAST(ts AS DATE)
                                    = (SELECT min(CAST(ts AS DATE)) FROM events)
                               THEN 1 END) AS BIGINT) AS score
        FROM events GROUP BY user_id
    ),
    subj AS (
        SELECT user_id, score,
               CASE WHEN first_buy IS NOT NULL AND first_buy > first_seen
                    THEN CAST(floor(date_part('epoch', first_buy - first_seen)
                                    / 3600) AS BIGINT) + 1 END AS t_event,
               CAST(floor(date_part('epoch', last_seen - first_seen) / 3600)
                    AS BIGINT) + 1 AS t_cens
        FROM per_user
    ),
    norm AS (
        SELECT user_id, score,
               COALESCE(t_event, t_cens) AS t,
               CASE WHEN t_event IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM subj
    ),
    pairs AS (
        SELECT a.score AS sa, b.score AS sb
        FROM norm a JOIN norm b
          ON a.ev = 1 AND (a.t < b.t OR (a.t = b.t AND b.ev = 0))
         AND a.user_id <> b.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS comparable_pairs,
           CAST(SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
           CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS tied_score,
           round((SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END)
                  + 0.5 * SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END))
                 / CAST(count(*) AS DOUBLE), 9) AS c_index
    FROM pairs
    """,
    tags=("events", "survival", "ml-eval"),
)
def events_harrell_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance index for a censored time-to-event model —
    the survival-analysis AUC (Harrell 1982): does first-day activity
    (the risk score) rank users by how soon they first purchase?
    Comparable pairs are (event at t, anyone still at risk past t);
    concordant when the earlier converter carried the higher score;
    score ties credit ½. The KM/Nelson-Aalen/log-rank family DESCRIBES
    survival — the C-index EVALUATES a predictor of it.

    Exactness: durations are integer hours, scores integer counts —
    the whole statistic is integer counting with one final division.
    Scale note: the pair join here is subject×subject (users are
    corpus-bounded in this schema); at true scale the standard rewrite
    orders by t and accumulates score-rank suffix counts per risk set
    (the Kendall grid trick) — the docstring contract, as with KM."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    per_user = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_seen"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "first_buy"
            ),
            F.max("ts").alias("last_seen"),
            F.sum((F.to_date("ts") == F.col("d0")).cast("int"))
            .cast("bigint")
            .alias("score"),
        )
    )
    hours = lambda a, b: (
        F.floor((F.unix_micros(a) - F.unix_micros(b)) / F.lit(3_600_000_000)) + 1
    ).cast("bigint")
    subj = per_user.select(
        "user_id",
        "score",
        F.when(
            F.col("first_buy").isNotNull() & (F.col("first_buy") > F.col("first_seen")),
            hours(F.col("first_buy"), F.col("first_seen")),
        ).alias("t_event"),
        hours(F.col("last_seen"), F.col("first_seen")).alias("t_cens"),
    )
    norm = pin(subj.select(
        "user_id",
        "score",
        F.coalesce("t_event", "t_cens").alias("t"),
        F.col("t_event").isNotNull().cast("int").alias("ev"),
    ))  # self-joined (scan-leaf lint)
    a, b = norm.alias("a"), norm.alias("b")
    pairs = a.join(
        b,
        (F.col("a.ev") == 1)
        & (
            (F.col("a.t") < F.col("b.t"))
            | ((F.col("a.t") == F.col("b.t")) & (F.col("b.ev") == 0))
        )
        & (F.col("a.user_id") != F.col("b.user_id")),
    ).select(F.col("a.score").alias("sa"), F.col("b.score").alias("sb"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("comparable_pairs"),
        F.sum((F.col("sa") > F.col("sb")).cast("int")).cast("bigint").alias("concordant"),
        F.sum((F.col("sa") == F.col("sb")).cast("int")).cast("bigint").alias("tied_score"),
        F.round(
            (
                F.sum((F.col("sa") > F.col("sb")).cast("int"))
                + 0.5 * F.sum((F.col("sa") == F.col("sb")).cast("int"))
            )
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("c_index"),
    )


ITS_BREAK = "2024-07-01"  # known intervention date


@query(
    "events_interrupted_time_series",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               CASE WHEN day >= DATE '{ITS_BREAK}' THEN 1 ELSE 0 END AS post
        FROM daily
    ),
    seg AS (
        SELECT post,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(t AS DECIMAL(28,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(t * t AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(t * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM idx GROUP BY post
    ),
    fits AS (
        SELECT post, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS intercept
        FROM seg
    ),
    t0_ AS (SELECT CAST(min(t) AS BIGINT) AS t0 FROM idx WHERE post = 1)
    SELECT pre.n AS n_pre, post.n AS n_post,
           round(pre.slope, 9) AS trend_pre,
           round(post.slope, 9) AS trend_post,
           round(post.slope - pre.slope, 9) AS trend_change,
           round((post.intercept + post.slope * (SELECT t0 FROM t0_))
                 - (pre.intercept + pre.slope * (SELECT t0 FROM t0_)), 9)
               AS level_change_at_break
    FROM (SELECT * FROM fits WHERE post = 0) pre
    CROSS JOIN (SELECT * FROM fits WHERE post = 1) post
    """,
    tags=("events", "causal", "timeseries"),
    uwin=(
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
    ),
)
def events_interrupted_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series analysis (segmented regression around a
    KNOWN intervention date — the quasi-experimental design for
    launches without a control group; Wagner et al. 2002): separate
    level+trend OLS fits before and after {ITS_BREAK}, reporting the
    trend change and the level jump evaluated AT the break — the two
    coefficients the policy question actually asks. Complements DiD
    (needs a control series) and binseg (finds an UNKNOWN break).

    Exactness: day indexes and their squares are exact integers; y
    terms round at 1e-6 into decimal sums; both segment fits and the
    jump are shared double expressions. One corpus groupBy to days."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y")
    )
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        (F.col("day") >= F.lit(ITS_BREAK).cast("date")).cast("int").alias("post"),
    )
    idx = pin(idx)  # shared frame (scan-leaf lint)
    seg = idx.groupBy("post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("t").cast("decimal(28,0)")).cast("double").alias("sx"),
        F.sum(F.round("y", 6).cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum((F.col("t") * F.col("t")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum(F.round(F.col("t") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fits = seg.select(
        "post",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )
    t0_ = idx.filter(F.col("post") == 1).agg(F.min("t").cast("bigint").alias("t0"))
    pre = fits.filter(F.col("post") == 0).select(
        F.col("n").alias("n_pre"), F.col("slope").alias("sl_pre"), F.col("intercept").alias("ic_pre")
    )
    post = fits.filter(F.col("post") == 1).select(
        F.col("n").alias("n_post"), F.col("slope").alias("sl_post"), F.col("intercept").alias("ic_post")
    )
    return (
        pre.crossJoin(post)
        .crossJoin(F.broadcast(t0_))
        .select(
            "n_pre",
            "n_post",
            F.round("sl_pre", 9).alias("trend_pre"),
            F.round("sl_post", 9).alias("trend_post"),
            F.round(F.col("sl_post") - F.col("sl_pre"), 9).alias("trend_change"),
            F.round(
                (F.col("ic_post") + F.col("sl_post") * F.col("t0"))
                - (F.col("ic_pre") + F.col("sl_pre") * F.col("t0")),
                9,
            ).alias("level_change_at_break"),
        )
    )


ERLANG_MU = 20.0  # service rate per agent-hour (3-min handle time)
ERLANG_TARGET = 0.2  # acceptable P(wait)


@query(
    "events_erlang_c_staffing",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    lam AS (SELECT CAST(max(n) AS DOUBLE) AS lambda FROM hourly),
    a_ AS (SELECT lambda, lambda / {ERLANG_MU!r} AS a FROM lam),
    grid AS (
        SELECT c FROM (SELECT unnest(range(1, 41)) AS c)
        WHERE c > (SELECT a FROM a_)
    ),
    terms AS (
        SELECT g.c, aa.a,
               list_reduce(
                   list_prepend(1.0,
                       list_transform(range(1, g.c + 1), k -> aa.a / k)),
                   (acc, x) -> acc * x) AS t_c,
               list_reduce(
                   list_prepend(0.0,
                       list_transform(range(0, g.c),
                           k -> list_reduce(
                               list_prepend(1.0,
                                   list_transform(range(1, k + 1),
                                                  j -> aa.a / j)),
                               (acc, x) -> acc * x))),
                   (acc, x) -> acc + x) AS s_c
        FROM grid g CROSS JOIN a_ aa
    ),
    pw AS (
        SELECT c, a,
               round((t_c * c / (c - a)) / (s_c + t_c * c / (c - a)), 9) AS p_wait
        FROM terms
    ),
    cut AS (SELECT MIN(c) AS c_star FROM pw WHERE p_wait <= {ERLANG_TARGET!r})
    SELECT c AS agents, round(a, 9) AS offered_load,
           p_wait,
           c = (SELECT c_star FROM cut) AS is_recommended
    FROM pw
    WHERE c <= (SELECT c_star FROM cut) + 2
    ORDER BY agents
    """,
    tags=("events", "ops", "queueing"),
)
def events_erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing curve (the 1917 queueing formula every
    capacity/support team still plans with): offered load a = λ_peak/μ
    from the busiest observed hour, P(wait) = (aᶜ/c!)·(c/(c−a)) /
    (Σ_k<c aᵏ/k! + aᶜ/c!·c/(c−a)) per agent count, and the minimum
    c with P(wait) ≤ the target flagged — extends the Little's-law
    audit from describing the queue to SIZING it.

    Determinism: aᵏ/k! is computed as the left fold Π(a/j) over an
    explicit index sequence — the same multiplication order in both
    engines (no factorial/lgamma libm split); P(wait) rounds at 9.
    Scale: one corpus groupBy to hours; the c-grid is 40 expression
    rows."""
    ev = load_table(spark, sf_dir, "events")
    lam = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    ).agg(F.max("n").cast("double").alias("lambda"))
    a_ = lam.select("lambda", (F.col("lambda") / ERLANG_MU).alias("a"))
    grid = spark.range(1, 41).select(F.col("id").cast("int").alias("c"))
    g = grid.crossJoin(F.broadcast(a_)).filter(F.col("c") > F.col("a"))
    t_c = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.col("c")), lambda j: F.col("a") / j),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    s_c = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.col("c") - 1),
            lambda k: F.aggregate(
                F.when(k >= 1, F.transform(F.sequence(F.lit(1), k), lambda j: F.col("a") / j))
                .otherwise(F.array().cast("array<double>")),
                F.lit(1.0),
                lambda acc, x: acc * x,
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    erl = t_c * F.col("c") / (F.col("c") - F.col("a"))
    pw = g.select("c", "a", F.round(erl / (s_c + erl), 9).alias("p_wait"))
    cut = pw.filter(F.col("p_wait") <= ERLANG_TARGET).agg(F.min("c").alias("c_star"))
    return (
        pw.crossJoin(F.broadcast(cut))
        .filter(F.col("c") <= F.col("c_star") + 2)
        .select(
            F.col("c").alias("agents"),
            F.round("a", 9).alias("offered_load"),
            "p_wait",
            (F.col("c") == F.col("c_star")).alias("is_recommended"),
        )
        .orderBy("agents")
    )


@query(
    "events_relative_risk",
    oracle="""
    WITH u AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14 AS exposed,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14 AS outcome
        FROM events GROUP BY user_id
    ),
    t AS (
        SELECT CAST(SUM(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END) AS DOUBLE) AS a,
               CAST(SUM(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END) AS DOUBLE) AS b,
               CAST(SUM(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END) AS DOUBLE) AS c,
               CAST(SUM(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END) AS DOUBLE) AS d
        FROM u
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           round((a / (a + b)) / (c / (c + d)), 9) AS relative_risk,
           round(a * d / (b * c), 9) AS odds_ratio,
           round(exp(ln((a / (a + b)) / (c / (c + d)))
                     - CAST(1.959963984540054 AS DOUBLE)
                       * sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d))), 9)
               AS rr_ci_lo,
           round(exp(ln((a / (a + b)) / (c / (c + d)))
                     + CAST(1.959963984540054 AS DOUBLE)
                       * sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d))), 9)
               AS rr_ci_hi
    FROM t
    """,
    tags=("events", "statistics"),
)
def events_relative_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-study 2x2 epidemiology table: exposure = above-median
    clicker (>=14 clicks), outcome = heavy purchaser (>=14 purchases).
    Relative risk (a/(a+b))/(c/(c+d)), odds ratio ad/bc, and the Katz
    log-method 95% CI for RR: exp(ln RR ± 1.96·sqrt(1/a − 1/(a+b) +
    1/c − 1/(c+d))) — the association report every growth/health
    analytics stack runs on user cohorts.

    100 TB: one user-keyed conditional-count aggregate (map-side
    partials), then a 1-row 2x2; z* is a shared parsed-double literal
    and ln/exp/sqrt run on identical IEEE inputs, rounded 9 dp."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)) >= 14).alias("exposed"),
        (F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14).alias(
            "outcome"
        ),
    )
    t = u.agg(
        F.sum(F.when(F.col("exposed") & F.col("outcome"), 1).otherwise(0))
        .cast("double")
        .alias("a"),
        F.sum(F.when(F.col("exposed") & ~F.col("outcome"), 1).otherwise(0))
        .cast("double")
        .alias("b"),
        F.sum(F.when(~F.col("exposed") & F.col("outcome"), 1).otherwise(0))
        .cast("double")
        .alias("c"),
        F.sum(F.when(~F.col("exposed") & ~F.col("outcome"), 1).otherwise(0))
        .cast("double")
        .alias("d"),
    )
    a, b, c, d = (F.col(x) for x in ("a", "b", "c", "d"))
    rr = (a / (a + b)) / (c / (c + d))
    se = F.sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d))
    z = F.lit(1.959963984540054)
    return t.select(
        a.cast("bigint").alias("a"),
        b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"),
        d.cast("bigint").alias("d"),
        F.round(rr, 9).alias("relative_risk"),
        F.round(a * d / (b * c), 9).alias("odds_ratio"),
        F.round(F.exp(F.log(rr) - z * se), 9).alias("rr_ci_lo"),
        F.round(F.exp(F.log(rr) + z * se), 9).alias("rr_ci_hi"),
    )


SAX_SEGMENTS = 8  # PAA word length
# N(0,1) quartile breakpoints for a 4-letter alphabet, shared literals
SAX_BP = (-0.6744897501960817, 0.0, 0.6744897501960817)


@query(
    "events_sax_symbols",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2
        FROM daily GROUP BY event_type
    ),
    z AS (
        SELECT d.event_type, d.day,
               CAST(floor({SAX_SEGMENTS} * (CAST(row_number() OVER
                        (PARTITION BY d.event_type ORDER BY d.day) AS DOUBLE) - 1.0)
                        / s.n) AS BIGINT) AS seg,
               round((d.y - s.s1 / s.n)
                     / sqrt((s.s2 - s.s1 * s.s1 / s.n) / s.n), 9) AS zval,
               CAST(s.n AS BIGINT) AS n_days
        FROM daily d JOIN stats s USING (event_type)
    ),
    paa AS (
        SELECT event_type, seg, n_days,
               CAST(SUM(CAST(zval AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM z GROUP BY event_type, seg, n_days
    ),
    sym AS (
        SELECT event_type, seg, n_days,
               CASE WHEN m < CAST({SAX_BP[0]!r} AS DOUBLE) THEN 'a'
                    WHEN m < CAST({SAX_BP[1]!r} AS DOUBLE) THEN 'b'
                    WHEN m < CAST({SAX_BP[2]!r} AS DOUBLE) THEN 'c'
                    ELSE 'd' END AS s
        FROM paa
    )
    SELECT event_type, MAX(n_days) AS n_days,
           string_agg(s, '' ORDER BY seg) AS sax_word
    FROM sym GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "timeseries"),
)
def events_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin, Keogh et al. 2003): each event-type's
    daily-total series is z-normalized, reduced by Piecewise Aggregate
    Approximation to 8 segments, and each segment mean is mapped to a
    4-letter alphabet at the standard-normal quartile breakpoints —
    the index/motif representation time-series databases build before
    similarity search.

    100 TB: the corpus collapses to (type, day) partial sums in one
    map-side-combined aggregate; everything after (z-stats, segment
    assignment via a per-type row_number window, PAA means, the word
    concat) runs on the bounded day grid. Exactness: daily sums and
    PAA means go through decimal accumulators; z-scores are identical
    IEEE doubles rounded at 9 dp; breakpoints are shared repr()
    literals, so the letter comparisons see bit-identical doubles."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("y").cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("y") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    z = (
        daily.join(stats, "event_type")
        .withColumn("rn", F.row_number().over(w).cast("double"))
        .select(
            "event_type",
            F.floor(F.lit(float(SAX_SEGMENTS)) * (F.col("rn") - 1.0) / F.col("n"))
            .cast("bigint")
            .alias("seg"),
            F.round(
                (F.col("y") - F.col("s1") / F.col("n"))
                / F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")),
                9,
            ).alias("zval"),
            F.col("n").cast("bigint").alias("n_days"),
        )
    )
    paa = z.groupBy("event_type", "seg", "n_days").agg(
        (F.sum(F.col("zval").cast("decimal(38,9)")).cast("double") / F.count(F.lit(1))).alias(
            "m"
        )
    )
    sym = paa.withColumn(
        "s",
        F.when(F.col("m") < F.lit(SAX_BP[0]), "a")
        .when(F.col("m") < F.lit(SAX_BP[1]), "b")
        .when(F.col("m") < F.lit(SAX_BP[2]), "c")
        .otherwise("d"),
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "s"))), lambda x: x["s"]
                ),
                "",
            ).alias("sax_word"),
        )
        .orderBy("event_type")
    )


PH_DELTA = 0.01  # Page-Hinkley allowance, relative-deviation units
PH_LAMBDA = 2.0  # alarm threshold


@query(
    "events_page_hinkley",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    mu AS (
        SELECT event_type,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mu
        FROM daily GROUP BY event_type
    ),
    pref AS (
        SELECT d.event_type, d.day,
               CAST(row_number() OVER w AS DOUBLE) AS t,
               CAST(SUM(CAST(d.y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS cum_y,
               d.y, m.mu
        FROM daily d JOIN mu m USING (event_type)
        WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    terms AS (
        SELECT event_type, day, t,
               round(y / mu - cum_y / (t * mu) - {PH_DELTA}, 9) AS term
        FROM pref
    ),
    m AS (
        SELECT event_type, day, t,
               CAST(SUM(CAST(term AS DECIMAL(38,9))) OVER w AS DOUBLE) AS m_t
        FROM terms
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ph AS (
        SELECT event_type, CAST(t AS BIGINT) AS t,
               m_t - MIN(m_t) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_t
        FROM m
    )
    SELECT event_type,
           CAST(MAX(t) AS BIGINT) AS n_days,
           round(MAX(ph_t), 6) AS ph_max,
           MAX(ph_t) > {PH_LAMBDA} AS alarm,
           CAST(MIN(CASE WHEN ph_t > {PH_LAMBDA} THEN t END) AS BIGINT)
               AS first_alarm_t
    FROM ph GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "timeseries"),
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector (Page 1954; the streaming-ML drift
    test in river/MOA): on the mean-normalized daily series x_t =
    y_t/mu, accumulate m_t = Σ(x_i − x̄_i − δ) where x̄_i is the RUNNING
    mean, and alarm when PH_t = m_t − min_{i≤t} m_i exceeds λ. The
    running-mean form distinguishes it from the fixed-reference CUSUM
    twin (`events_cusum_changepoint`): PH adapts its baseline as it
    goes, so slow level shifts still trip it.

    100 TB: corpus → (type, day) partial sums in one aggregate; the
    prefix windows (running sum, running min of the running sum) all
    run per type over the bounded day grid. Per-day terms are rounded
    at 9 dp and prefix-summed through decimals, so Spark's window and
    DuckDB's agree bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("y")
    )
    mu = daily.groupBy("event_type").agg(
        (F.sum(F.col("y").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = (
        daily.join(mu, "event_type")
        .withColumn("t", F.row_number().over(Window.partitionBy("event_type").orderBy("day")).cast("double"))
        .withColumn("cum_y", F.sum(F.col("y").cast("decimal(38,6)")).over(w).cast("double"))
    )
    terms = pref.select(
        "event_type",
        "day",
        "t",
        F.round(
            F.col("y") / F.col("mu") - F.col("cum_y") / (F.col("t") * F.col("mu")) - PH_DELTA,
            9,
        ).alias("term"),
    )
    m = terms.withColumn(
        "m_t", F.sum(F.col("term").cast("decimal(38,9)")).over(w).cast("double")
    ).withColumn("m_min", F.min("m_t").over(w))
    ph = m.select(
        "event_type", F.col("t").cast("bigint").alias("t"), (F.col("m_t") - F.col("m_min")).alias("ph_t")
    )
    return (
        ph.groupBy("event_type")
        .agg(
            F.max("t").cast("bigint").alias("n_days"),
            F.round(F.max("ph_t"), 6).alias("ph_max"),
            (F.max("ph_t") > F.lit(PH_LAMBDA)).alias("alarm"),
            F.min(F.when(F.col("ph_t") > PH_LAMBDA, F.col("t")))
            .cast("bigint")
            .alias("first_alarm_t"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_bass_diffusion",
    oracle="""
    WITH first_order AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d0
        FROM orders GROUP BY o_custkey
    ),
    wk AS (
        SELECT CAST(d0 - DATE '1970-01-01' AS BIGINT) // 7 AS w,
               CAST(count(*) AS BIGINT) AS n_t
        FROM first_order GROUP BY 1
    ),
    bounds AS (SELECT MIN(w) AS wlo, MAX(w) AS whi FROM wk),
    spine AS (SELECT UNNEST(generate_series(wlo, whi)) AS w FROM bounds),
    series AS (
        SELECT s.w,
               CAST(COALESCE(wk.n_t, 0) AS BIGINT) AS y,
               CAST(COALESCE(SUM(wk.n_t) OVER (ORDER BY s.w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS x
        FROM spine s LEFT JOIN wk ON s.w = wk.w
    ),
    mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(x*x*x AS DECIMAL(38,0))) AS DOUBLE) AS sx3,
               CAST(SUM(CAST(x*x*x*x AS DECIMAL(38,0))) AS DOUBLE) AS sx4,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x*x*y AS DECIMAL(38,0))) AS DOUBLE) AS sx2y
        FROM series
    ),
    sol AS (
        SELECT n,
            (n*(sx2*sx4 - sx3*sx3) - sx*(sx*sx4 - sx2*sx3) + sx2*(sx*sx3 - sx2*sx2)) AS det,
            (sy*(sx2*sx4 - sx3*sx3) - sx*(sxy*sx4 - sx2y*sx3) + sx2*(sxy*sx3 - sx2y*sx2)) AS det_a,
            (n*(sxy*sx4 - sx2y*sx3) - sy*(sx*sx4 - sx2*sx3) + sx2*(sx*sx2y - sxy*sx2)) AS det_b,
            (n*(sx2*sx2y - sx3*sxy) - sx*(sx*sx2y - sx3*sy) + sx2*(sx*sxy - sx2*sy)) AS det_c
        FROM mom
    ),
    abc AS (
        SELECT CAST(n AS BIGINT) AS n_weeks,
               det_a/det AS a, det_b/det AS b, det_c/det AS c
        FROM sol
    )
    SELECT n_weeks,
           round(a, 9) AS a, round(b, 9) AS b, round(c, 12) AS c,
           round((-b - sqrt(b*b - 4.0*a*c)) / (2.0*c), 6) AS m_hat,
           round(a / ((-b - sqrt(b*b - 4.0*a*c)) / (2.0*c)), 9) AS p_innovation,
           round(-((-b - sqrt(b*b - 4.0*a*c)) / (2.0*c)) * c, 9) AS q_imitation
    FROM abc
    """,
    tags=("orders", "timeseries"),
    uwin=(
        'week-grained adoption series (<= timeline weeks)',
    ),
)
def orders_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit (Bass 1969, the canonical new-product
    adoption model): weekly first-time-customer counts n_t regressed on
    cumulative adopters N: n_t = a + b·N + c·N², solved by Cramer's
    rule on the 3x3 normal equations; then market size m = (−b −
    sqrt(b² − 4ac)) / 2c, innovation p = a/m, imitation q = −m·c.

    Exactness: x and y are INTEGERS on the complete week spine
    (sequence-generated, gaps = zero weeks), so all eight regression
    moments are exact DECIMAL(38,0) sums of int64 products (x⁴ ≤
    1.6e17 at sf1 — in-range); the Cramer algebra then runs on
    identical IEEE doubles in both engines. 100 TB: first-order dates
    are one groupBy of orders; the spine/prefix/regression all live on
    the bounded week grid — the same sufficient-statistics discipline
    as the ridge/Holt operators."""
    o = load_table(spark, sf_dir, "orders")
    first_order = o.groupBy("o_custkey").agg(F.min(F.to_date("o_orderdate")).alias("d0"))
    wk = first_order.groupBy(
        F.floor(F.datediff(F.col("d0"), F.lit("1970-01-01")) / 7)
        .cast("bigint")
        .alias("w")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    bounds = wk.agg(F.min("w").alias("wlo"), F.max("w").alias("whi"))
    spine = bounds.select(F.explode(F.sequence("wlo", "whi")).alias("w"))
    wprev = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, -1)
    series = (
        spine.join(wk, "w", "left")
        .select("w", F.coalesce(F.col("n_t"), F.lit(0)).cast("bigint").alias("y"))
        .withColumn("x", F.coalesce(F.sum("y").over(wprev), F.lit(0)).cast("bigint"))
    )
    x, y = F.col("x"), F.col("y")
    d0 = "decimal(38,0)"
    mom = series.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(d0)).cast("double").alias("sx"),
        F.sum((x * x).cast(d0)).cast("double").alias("sx2"),
        F.sum((x * x * x).cast(d0)).cast("double").alias("sx3"),
        F.sum((x * x * x * x).cast(d0)).cast("double").alias("sx4"),
        F.sum(y.cast(d0)).cast("double").alias("sy"),
        F.sum((x * y).cast(d0)).cast("double").alias("sxy"),
        F.sum((x * x * y).cast(d0)).cast("double").alias("sx2y"),
    )
    n, sx, sx2, sx3, sx4, sy, sxy, sx2y = (
        F.col(c) for c in ("n", "sx", "sx2", "sx3", "sx4", "sy", "sxy", "sx2y")
    )
    det = n * (sx2 * sx4 - sx3 * sx3) - sx * (sx * sx4 - sx2 * sx3) + sx2 * (
        sx * sx3 - sx2 * sx2
    )
    det_a = sy * (sx2 * sx4 - sx3 * sx3) - sx * (sxy * sx4 - sx2y * sx3) + sx2 * (
        sxy * sx3 - sx2y * sx2
    )
    det_b = n * (sxy * sx4 - sx2y * sx3) - sy * (sx * sx4 - sx2 * sx3) + sx2 * (
        sx * sx2y - sxy * sx2
    )
    det_c = n * (sx2 * sx2y - sx3 * sxy) - sx * (sx * sx2y - sx3 * sy) + sx2 * (
        sx * sxy - sx2 * sy
    )
    abc = mom.select(
        n.cast("bigint").alias("n_weeks"),
        (det_a / det).alias("a"),
        (det_b / det).alias("b"),
        (det_c / det).alias("c"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    m_hat = (-b - F.sqrt(b * b - 4.0 * a * c)) / (2.0 * c)
    return abc.select(
        "n_weeks",
        F.round(a, 9).alias("a"),
        F.round(b, 9).alias("b"),
        F.round(c, 12).alias("c"),
        F.round(m_hat, 6).alias("m_hat"),
        F.round(a / m_hat, 9).alias("p_innovation"),
        F.round(-m_hat * c, 9).alias("q_imitation"),
    )


NV_FRACTILE_NUM = 3  # underage cost cu
NV_FRACTILE_DEN = 4  # cu + co  -> critical fractile 0.75
EOQ_ORDER_COST = 100.0
EOQ_HOLD_COST = 2.0


@query(
    "orders_newsvendor_eoq",
    oracle=f"""
    WITH demand AS (
        SELECT p.p_type,
               CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) // 7 AS w,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT p_type, d,
               row_number() OVER (PARTITION BY p_type ORDER BY d, w) AS rn,
               count(*) OVER (PARTITION BY p_type) AS n
        FROM demand
    ),
    q AS (
        SELECT p_type, MAX(n) AS n_weeks,
               CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DOUBLE) / MAX(n) AS mean_weekly,
               CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DOUBLE) AS total_d,
               MIN(CASE WHEN rn * {NV_FRACTILE_DEN} >= n * {NV_FRACTILE_NUM}
                        THEN d END) AS q_star
        FROM ranked GROUP BY p_type
    )
    SELECT p_type,
           CAST(n_weeks AS BIGINT) AS n_weeks,
           round(mean_weekly, 9) AS mean_weekly_demand,
           CAST(q_star AS BIGINT) AS newsvendor_q,
           round(sqrt(2.0 * total_d * {EOQ_ORDER_COST!r} / {EOQ_HOLD_COST!r}), 6) AS eoq
    FROM q ORDER BY p_type
    """,
    tags=("orders", "operations"),
)
def orders_newsvendor_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory policy targets per part type: the newsvendor quantile
    q* = F⁻¹(cu/(cu+co)) at critical fractile 3/4 — computed as the
    EXACT discrete percentile of weekly demand (smallest d with
    rank·4 ≥ n·3, percentile_disc semantics on integer demand, so both
    engines pick the identical value with no interpolation) — and the
    EOQ lot size sqrt(2·D·S/H) from total demand. The classic
    stochastic + deterministic inventory pair over the star schema.

    100 TB: lineitem⋈part is a BROADCAST join (part is the small dim);
    demand collapses to the (type, week) grid in the same shuffle; the
    rank window runs per type on the bounded grid. Integer demand sums
    are exact decimals; sqrt runs on identical IEEE doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    demand = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_type",
            F.floor(F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01")) / 7)
            .cast("bigint")
            .alias("w"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("d"))
    )
    wrank = Window.partitionBy("p_type").orderBy("d", "w")
    wall = Window.partitionBy("p_type")
    ranked = demand.select(
        "p_type",
        "d",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    q = ranked.groupBy("p_type").agg(
        F.max("n").alias("n_weeks"),
        (F.sum(F.col("d").cast("decimal(38,0)")).cast("double") / F.max("n")).alias(
            "mean_weekly"
        ),
        F.sum(F.col("d").cast("decimal(38,0)")).cast("double").alias("total_d"),
        F.min(
            F.when(F.col("rn") * NV_FRACTILE_DEN >= F.col("n") * NV_FRACTILE_NUM, F.col("d"))
        ).alias("q_star"),
    )
    return q.select(
        "p_type",
        F.col("n_weeks").cast("bigint").alias("n_weeks"),
        F.round("mean_weekly", 9).alias("mean_weekly_demand"),
        F.col("q_star").cast("bigint").alias("newsvendor_q"),
        F.round(F.sqrt(2.0 * F.col("total_d") * EOQ_ORDER_COST / EOQ_HOLD_COST), 6).alias(
            "eoq"
        ),
    ).orderBy("p_type")


@query(
    "events_granger_causality",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT COALESCE(y, 0.0) AS y,
               COALESCE(LAG(y) OVER (ORDER BY day), 0.0) AS y1,
               COALESCE(LAG(x) OVER (ORDER BY day), 0.0) AS x1,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    obs AS (SELECT y, y1, x1 FROM lagged WHERE rn > 1),
    mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(y1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(y1 * y1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(round(x1 * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(round(y1 * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(y * y1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy1,
               CAST(SUM(CAST(round(y * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy2
        FROM obs
    ),
    fit AS (
        SELECT n, syy, sy, sy1, sy2,
               -- restricted: y ~ 1 + y1
               (n * sy1 - s1 * sy) / (n * s11 - s1 * s1) AS br,
               (sy - (n * sy1 - s1 * sy) / (n * s11 - s1 * s1) * s1) / n AS ar,
               -- unrestricted: y ~ 1 + y1 + x1 (Cramer 3x3)
               (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s2*s12) + s2*(s1*s12 - s2*s11)) AS det,
               (sy*(s11*s22 - s12*s12) - s1*(sy1*s22 - sy2*s12) + s2*(sy1*s12 - sy2*s11)) AS det_a,
               (n*(sy1*s22 - sy2*s12) - sy*(s1*s22 - s2*s12) + s2*(s1*sy2 - sy1*s2)) AS det_b,
               (n*(s11*sy2 - s12*sy1) - s1*(s1*sy2 - s12*sy) + s2*(s1*sy1 - s11*sy)) AS det_c,
               s1, s2, s11, s22, s12
        FROM mom
    ),
    ssr AS (
        SELECT n,
               syy - ar * sy - br * sy1 AS ssr_r,
               syy - (det_a/det) * sy - (det_b/det) * sy1 - (det_c/det) * sy2 AS ssr_u
        FROM fit
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(ssr_r, 6) AS ssr_restricted,
           round(ssr_u, 6) AS ssr_unrestricted,
           round((ssr_r - ssr_u) / (ssr_u / (n - 3.0)), 9) AS f_stat,
           (ssr_r - ssr_u) / (ssr_u / (n - 3.0)) > 4.0 AS clicks_granger_cause_purchases
    FROM ssr
    """,
    tags=("events", "timeseries", "causal"),
    uwin=(
        'day-grained daily series (<= timeline days)',
    ),
)
def events_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality (Granger 1969): does yesterday's click
    volume improve today's purchase-volume forecast beyond yesterday's
    purchases alone? Restricted (y ~ 1 + y_{t-1}) vs unrestricted
    (y ~ 1 + y_{t-1} + x_{t-1}) OLS on the daily grid; F = (ΔSSR/1) /
    (SSR_u/(n−k−1)), flagged against a conservative F≈4.0 literal.
    SSRs come from the normal-equation identity SSR = Σy² − β'X'y, so
    no residual pass is needed.

    100 TB: one conditional aggregate collapses the corpus to the day
    grid; the lag join is a window on that bounded grid; both fits are
    closed-form Cramer algebra over ten decimal moments — the
    sufficient-statistics shape shared by the Bass/ridge/Huber
    operators."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", F.col("value").cast("decimal(28,6)"))
        )
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(28,6)"))
        )
        .cast("double")
        .alias("y"),
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        F.coalesce("y", F.lit(0.0)).alias("y"),
        F.coalesce(F.lag("y").over(wd), F.lit(0.0)).alias("y1"),
        F.coalesce(F.lag("x").over(wd), F.lit(0.0)).alias("x1"),
        F.row_number().over(wd).alias("rn"),
    ).filter(F.col("rn") > 1)
    d6 = "decimal(38,6)"

    def m(expr, alias):
        return F.sum(F.round(expr, 6).cast(d6)).cast("double").alias(alias)

    y, y1, x1 = F.col("y"), F.col("y1"), F.col("x1")
    mom = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        m(y, "sy"), m(y1, "s1"), m(x1, "s2"),
        m(y1 * y1, "s11"), m(x1 * x1, "s22"), m(y1 * x1, "s12"),
        m(y * y, "syy"), m(y * y1, "sy1"), m(y * x1, "sy2"),
    )
    n, sy, s1, s2 = (F.col(c) for c in ("n", "sy", "s1", "s2"))
    s11, s22, s12 = (F.col(c) for c in ("s11", "s22", "s12"))
    syy, sy1, sy2 = (F.col(c) for c in ("syy", "sy1", "sy2"))
    br = (n * sy1 - s1 * sy) / (n * s11 - s1 * s1)
    ar = (sy - br * s1) / n
    det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s2 * s12) + s2 * (
        s1 * s12 - s2 * s11
    )
    det_a = sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - sy2 * s12) + s2 * (
        sy1 * s12 - sy2 * s11
    )
    det_b = n * (sy1 * s22 - sy2 * s12) - sy * (s1 * s22 - s2 * s12) + s2 * (
        s1 * sy2 - sy1 * s2
    )
    det_c = n * (s11 * sy2 - s12 * sy1) - s1 * (s1 * sy2 - s12 * sy) + s2 * (
        s1 * sy1 - s11 * sy
    )
    ssr_r = syy - ar * sy - br * sy1
    ssr_u = syy - (det_a / det) * sy - (det_b / det) * sy1 - (det_c / det) * sy2
    f_stat = (ssr_r - ssr_u) / (ssr_u / (n - 3.0))
    return mom.select(
        n.cast("bigint").alias("n_obs"),
        F.round(ssr_r, 6).alias("ssr_restricted"),
        F.round(ssr_u, 6).alias("ssr_unrestricted"),
        F.round(f_stat, 9).alias("f_stat"),
        (f_stat > 4.0).alias("clicks_granger_cause_purchases"),
    )


CCF_MAX_LAG = 3


@query(
    "events_cross_correlation",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               COALESCE(CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS x,
               COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS y
        FROM events GROUP BY 1
    ),
    lags AS (SELECT UNNEST(generate_series(-{CCF_MAX_LAG}, {CCF_MAX_LAG})) AS lag),
    pairs AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
    ),
    mom AS (
        SELECT lag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS ccf
    FROM mom
    ORDER BY lag
    """,
    tags=("events", "timeseries"),
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the click and purchase daily
    series at lags −3..+3 (corr(x_t, y_{t+lag})): the lead/lag
    discovery tool behind "which signal moves first" — the
    cross-series complement of `events_autocorrelation`, and the
    screening step before the Granger F-test.

    100 TB: the corpus collapses to the day grid once; each lag is a
    grid self-join on day+lag (7 bounded joins via one lag-spine cross
    join), and every correlation comes from decimal moments of the
    aligned pairs. Both engines run the identical Pearson algebra."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("value").cast("decimal(28,6)"))
            ).cast("double"),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value").cast("decimal(28,6)")
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("y"),
    )
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.select(F.col("day").alias("da"), "x")
    b = daily.select(F.col("day").alias("db"), "y")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("db") == F.date_add(F.col("da"), F.col("lag").cast("int")))
    )
    d6 = "decimal(38,6)"

    def m(expr, alias):
        return F.sum(F.round(expr, 6).cast(d6)).cast("double").alias(alias)

    x, y = F.col("x"), F.col("y")
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        m(x, "sx"), m(y, "sy"), m(x * x, "sxx"), m(y * y, "syy"), m(x * y, "sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    return mom.select(
        F.col("lag").cast("bigint").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9
        ).alias("ccf"),
    ).orderBy("lag")


WALK_STEPS = 6


def _walk_pick_sql(start: str, cur: str, step: int) -> str:
    """Cross-engine deterministic neighbor pick: md5(start-cur-step)
    mod out-degree, as a 1-based rank into the weight-ordered
    adjacency."""
    return (
        f"CAST(concat('0x', substring(md5(concat({start}, '-', {cur}, "
        f"'-', '{step}')), 1, 8)) AS BIGINT) % deg + 1"
    )


@query(
    "graph_deepwalk_corpus",
    oracle=f"""
    WITH raw AS (
        SELECT sn.n_name AS src, cn.n_name AS dst, CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE sn.n_name <> cn.n_name
        GROUP BY 1, 2
    ),
    adj AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rnk,
               count(*) OVER (PARTITION BY src) AS deg
        FROM raw
    ),
    w0 AS (SELECT DISTINCT src AS start, src AS cur, src AS path FROM adj),
    {", ".join(
        f'''w{i} AS (
        SELECT w.start, a.dst AS cur, concat(w.path, '>', a.dst) AS path
        FROM w{i - 1} w JOIN adj a ON w.cur = a.src
        WHERE a.rnk = {_walk_pick_sql("w.start", "w.cur", i)}
    )''' for i in range(1, WALK_STEPS + 1)
    )}
    SELECT start, path AS walk
    FROM w{WALK_STEPS}
    ORDER BY start
    """,
    tags=("graph", "embedding-prep"),
)
def graph_deepwalk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec WALK-CORPUS generation (Perozzi 2014; the
    sampling half of graph embeddings, the training half being out of
    scope like BPE's serving split): one 6-step walk per start node on
    the nation trade graph, next hop drawn by the deterministic
    cross-engine hash md5(start, current, step) mod out-degree into
    the weight-ranked adjacency — the replayable stand-in for the
    alias-table sampler.

    100 TB: the adjacency (with per-source rank/degree windows keyed
    by src) is built once; each step is one equi-join of the frontier
    against it — the Pregel shape, state never collects. Frontier size
    = #starts forever (walks don't branch); K walks per node = K
    frontier rows. The oracle unrolls the identical 6 joins as chained
    CTEs."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
        )
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    c = F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, s.s_nationkey == n1.s_nk)
        .join(n2, c.c_nationkey == n2.c_nk)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    wrnk = Window.partitionBy("src").orderBy(F.desc("w"), "dst")
    wdeg = Window.partitionBy("src")
    adj = pin(raw.select(
        "src",
        "dst",
        F.row_number().over(wrnk).alias("rnk"),
        F.count(F.lit(1)).over(wdeg).alias("deg"),
    ), eager=True)  # bounded edge table; truncate the star-join lineage
    walk = adj.select(F.col("src").alias("start")).distinct().select(
        "start", F.col("start").alias("cur"), F.col("start").alias("path")
    )
    for step in range(1, WALK_STEPS + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws("-", F.col("start"), F.col("cur"), F.lit(str(step)))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("deg")
            + 1
        )
        walk = (
            walk.join(adj, walk.cur == adj.src)
            .filter(F.col("rnk") == pick)
            .select(
                "start",
                F.col("dst").alias("cur"),
                F.concat(F.col("path"), F.lit(">"), F.col("dst")).alias("path"),
            )
        )
    return walk.select("start", F.col("path").alias("walk")).orderBy("start")


KATZ_QTY_MIN = 47  # same sparsifier as harmonic centrality
KATZ_BETA = "0.1"  # attenuation, shared literal


@query(
    "graph_katz_centrality",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_quantity >= {KATZ_QTY_MIN} AND s.s_nationkey <> c.c_nationkey
    ),
    nodes AS (SELECT n_nationkey AS v FROM nation),
    w1 AS (
        SELECT dst AS v, CAST(count(*) AS BIGINT) AS wc FROM edges GROUP BY dst
    ),
    w2 AS (
        SELECT e.dst AS v, CAST(SUM(w1.wc) AS BIGINT) AS wc
        FROM edges e JOIN w1 ON w1.v = e.src GROUP BY e.dst
    ),
    w3 AS (
        SELECT e.dst AS v, CAST(SUM(w2.wc) AS BIGINT) AS wc
        FROM edges e JOIN w2 ON w2.v = e.src GROUP BY e.dst
    )
    SELECT n.v AS nationkey,
           CAST(COALESCE(w1.wc, 0) AS BIGINT) AS walks_1,
           CAST(COALESCE(w2.wc, 0) AS BIGINT) AS walks_2,
           CAST(COALESCE(w3.wc, 0) AS BIGINT) AS walks_3,
           round(CAST({KATZ_BETA} AS DOUBLE) * COALESCE(w1.wc, 0)
                 + CAST({KATZ_BETA} AS DOUBLE) * CAST({KATZ_BETA} AS DOUBLE)
                   * COALESCE(w2.wc, 0)
                 + CAST({KATZ_BETA} AS DOUBLE) * CAST({KATZ_BETA} AS DOUBLE)
                   * CAST({KATZ_BETA} AS DOUBLE) * COALESCE(w3.wc, 0), 9)
               AS katz
    FROM nodes n LEFT JOIN w1 ON w1.v = n.v
    LEFT JOIN w2 ON w2.v = n.v
    LEFT JOIN w3 ON w3.v = n.v
    ORDER BY nationkey
    """,
    tags=("graph", "centrality"),
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (Katz 1953) at radius 3 on the
    sparsified DIRECTED trade graph: katz(v) = Σ_k β^k · (# walks of
    length k ending at v). Walk counts stay EXACT INTEGERS through all
    three rounds (wc_{{k+1}}(v) = Σ_{{u→v}} wc_k(u) — each round is one
    edge⋈counts equi-join + a destination-keyed sum, the Pregel shape
    shared with graph_pagerank), so nothing needs an IEEE-order
    canonicalization until the final β-polynomial, a shared 1-expression
    double on the node-sized table. At 100 TB: 3 vertex-keyed
    join+agg rounds over the edge list; no per-iteration driver state
    beyond the loop counter."""
    s = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    c = F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= KATZ_QTY_MIN
    ).select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = pin(  # 3 consumers; truncate the star-join lineage
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .distinct(),
        eager=True,
    )
    wc = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("wc")
    )
    walks = [wc]
    for _ in range(2):
        prev = walks[-1]
        walks.append(
            edges.join(prev, edges.src == prev.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.sum("wc").cast("bigint").alias("wc"))
            .withColumnRenamed("v2", "v")
        )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    out = nodes
    for i, w in enumerate(walks, start=1):
        out = out.join(
            w.select(F.col("v").alias("nationkey"), F.col("wc").alias(f"walks_{i}")),
            "nationkey",
            "left",
        )
    beta = F.lit(float(KATZ_BETA))
    w1 = F.coalesce(F.col("walks_1"), F.lit(0)).cast("bigint")
    w2 = F.coalesce(F.col("walks_2"), F.lit(0)).cast("bigint")
    w3 = F.coalesce(F.col("walks_3"), F.lit(0)).cast("bigint")
    return out.select(
        "nationkey",
        w1.alias("walks_1"),
        w2.alias("walks_2"),
        w3.alias("walks_3"),
        F.round(beta * w1 + beta * beta * w2 + beta * beta * beta * w3, 9).alias(
            "katz"
        ),
    ).orderBy("nationkey")


@query(
    "graph_louvain_gain",
    oracle="""
    WITH raw AS (
        SELECT s.s_nationkey AS u, c.c_nationkey AS v, count(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY u, v
    ),
    sym AS (
        SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT u, v, w FROM raw UNION ALL SELECT v, u, w FROM raw
        ) GROUP BY u, v
    ),
    comm AS (SELECT n_nationkey AS v, n_regionkey AS c FROM nation),
    deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS k FROM sym GROUP BY u),
    m AS (SELECT CAST(SUM(w) / 2 AS BIGINT) AS m FROM sym),
    ctot AS (
        SELECT cm.c, CAST(SUM(d.k) AS BIGINT) AS tot
        FROM deg d JOIN comm cm ON cm.v = d.u GROUP BY cm.c
    ),
    kin AS (
        SELECT e.u, cm.c, CAST(SUM(e.w) AS BIGINT) AS k_in
        FROM sym e JOIN comm cm ON cm.v = e.v
        GROUP BY e.u, cm.c
    ),
    cand AS (
        SELECT k.u, co.c AS a, k.c AS cand_c,
               k.k_in AS kic,
               COALESCE(ka.k_in, 0) AS kia,
               d.k, ta.tot AS tota, tc.tot AS totc, m.m
        FROM kin k
        JOIN comm co ON co.v = k.u
        JOIN deg d ON d.u = k.u
        LEFT JOIN kin ka ON ka.u = k.u AND ka.c = co.c
        JOIN ctot ta ON ta.c = co.c
        JOIN ctot tc ON tc.c = k.c
        CROSS JOIN m
        WHERE k.c <> co.c
    ),
    gains AS (
        SELECT u, a AS community, cand_c AS target_community,
               round((CAST(kic AS DOUBLE) - kia) / m
                     - CAST(k AS DOUBLE)
                       * (CAST(totc AS DOUBLE) - tota + k)
                       / (2.0 * CAST(m AS DOUBLE) * m), 12) AS dq
        FROM cand
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY u
                                     ORDER BY dq DESC, target_community) AS rk
        FROM gains
    )
    SELECT u AS nationkey, community, target_community,
           dq AS best_gain,
           CAST(dq > 0 AS BOOLEAN) AS would_move
    FROM best WHERE rk = 1
    ORDER BY nationkey
    """,
    tags=("graph", "community"),
)
def graph_louvain_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One parallel Louvain phase-1 sweep (Blondel et al. 2008)
    evaluated over the weighted undirected nation trade graph with
    region as the initial community assignment: for every node and
    every NEIGHBOR community, the exact modularity change of moving
    there — ΔQ = (k_i,in(c) − k_i,in(a\\i))/m − k_i·(Σtot(c) − Σtot(a)
    + k_i)/(2m²) — then the best positive move per node
    (quantize-then-rank: ΔQ round-12, community tiebreak). Every input
    to the formula is an exact integer (edge weights, degrees,
    community totals); ΔQ itself is one shared double expression, so
    both engines compute identical values. Scale shape: the candidate
    set is bounded by Σ|neighbor communities| (vertex-keyed joins +
    community-keyed aggs — the distributed-Louvain building block);
    nothing is sequential, which is exactly how parallel Louvain
    implementations batch phase-1 sweeps."""
    s = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    c = F.broadcast(load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = pin(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # bounded (≤ nation² rows), consumed twice inside the sym pin's
        # builder (direct + reversed union) — inner pin keeps the
        # 4-table star join single-pass (pin-interior lint, r13)
    )
    sym = pin(  # consumed by deg and kin; truncate star-join lineage
        raw.select("u", "v", "w")
        .unionAll(raw.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w")),
        eager=True,
    )
    comm = F.broadcast(
        pin(load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("v"), F.col("n_regionkey").alias("c")
        ))  # 3 consumers (scan-leaf lint)
    )
    deg = sym.groupBy("u").agg(F.sum("w").cast("bigint").alias("k"))
    m = sym.agg((F.sum("w") / 2).cast("bigint").alias("m"))
    ctot = (
        deg.join(comm, deg.u == comm.v)
        .groupBy("c")
        .agg(F.sum("k").cast("bigint").alias("tot"))
    )
    kin = (
        sym.join(comm, sym.v == comm.v)
        .groupBy("u", "c")
        .agg(F.sum("w").cast("bigint").alias("k_in"))
    )
    own = comm.select(F.col("v").alias("u"), F.col("c").alias("a"))
    kia = kin.select(F.col("u").alias("u2"), F.col("c").alias("a2"), F.col("k_in").alias("kia"))
    cand = (
        kin.join(own, "u")
        .filter(F.col("c") != F.col("a"))
        .join(
            kia,
            (F.col("u") == F.col("u2")) & (F.col("a") == F.col("a2")),
            "left",
        )
        .join(deg.select(F.col("u").alias("u3"), "k"), F.col("u") == F.col("u3"))
        .join(F.broadcast(ctot.select(F.col("c").alias("a4"), F.col("tot").alias("tota"))), F.col("a") == F.col("a4"))
        .join(F.broadcast(ctot.select(F.col("c").alias("c5"), F.col("tot").alias("totc"))), F.col("c") == F.col("c5"))
        .crossJoin(F.broadcast(m))
    )
    dq = F.round(
        (F.col("k_in").cast("double") - F.coalesce(F.col("kia"), F.lit(0)))
        / F.col("m")
        - F.col("k").cast("double")
        * (F.col("totc").cast("double") - F.col("tota") + F.col("k"))
        / (2.0 * F.col("m").cast("double") * F.col("m")),
        12,
    )
    gains = cand.select(
        "u",
        F.col("a").alias("community"),
        F.col("c").alias("target_community"),
        dq.alias("dq"),
    )
    wrk = Window.partitionBy("u").orderBy(F.desc("dq"), "target_community")
    return (
        gains.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            F.col("u").alias("nationkey"),
            "community",
            "target_community",
            F.col("dq").alias("best_gain"),
            (F.col("dq") > 0).alias("would_move"),
        )
        .orderBy("nationkey")
    )


@query(
    "events_cox_score_test",
    oracle="""
    WITH u AS (
        SELECT user_id,
               (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS delta,
               CAST(round(ln(1 + count(*)), 6) AS DECIMAL(18,6)) AS x
        FROM events GROUP BY user_id
    ),
    at_t AS (
        SELECT dur, CAST(count(*) AS BIGINT) AS n_t,
               sum(x) AS sx, sum(x * x) AS sx2,
               CAST(sum(delta) AS BIGINT) AS d_t,
               sum(CASE WHEN delta = 1 THEN x
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS sdx
        FROM u GROUP BY dur
    ),
    cum AS (
        SELECT dur, d_t, sdx,
               sum(n_t) OVER w AS big_n,
               sum(sx) OVER w AS big_sx,
               sum(sx2) OVER w AS big_sx2
        FROM at_t
        WINDOW w AS (ORDER BY dur DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    terms AS (
        SELECT d_t,
               CAST(CAST(sdx AS DOUBLE)
                    - CAST(d_t AS DOUBLE)
                      * (CAST(big_sx AS DOUBLE) / CAST(big_n AS DOUBLE))
                    AS DECIMAL(38,18)) AS u_term,
               CAST(CAST(d_t AS DOUBLE)
                    * (CAST(big_sx2 AS DOUBLE) / CAST(big_n AS DOUBLE)
                       - (CAST(big_sx AS DOUBLE) / CAST(big_n AS DOUBLE))
                         * (CAST(big_sx AS DOUBLE) / CAST(big_n AS DOUBLE)))
                    AS DECIMAL(38,18)) AS v_term
        FROM cum WHERE d_t > 0
    ),
    sub AS (
        SELECT CAST(count(*) AS BIGINT) AS n_subjects,
               CAST(sum(delta) AS BIGINT) AS n_observed
        FROM u
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_event_times,
               round(CAST(sum(u_term) AS DOUBLE), 6) AS score_u,
               round(CAST(sum(v_term) AS DOUBLE), 6) AS info_v
        FROM terms
    )
    SELECT s.n_subjects, s.n_observed, a.n_event_times, a.score_u, a.info_v,
           round(a.score_u / sqrt(a.info_v), 6) AS z_score
    FROM sub s CROSS JOIN agg a
    """,
    tags=("events", "analytics", "survival"),
)
def events_cox_score_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards SCORE TEST at β=0 (the partial-
    likelihood first derivative; Cox 1972) — 'does engagement intensity
    (x = ln(1+events)) shift the hazard of conversion?' without fitting
    anything iterative. Subjects are users, time is first-to-last-seen
    seconds, the event is any purchase (Breslow handling for tied
    times). U = Σ_events (x_i − x̄_risk(t_i)), V = Σ d_t·Var_risk(x);
    z = U/√V is the one-covariate log-rank generalization.

    Risk-set statistics at every event time are suffix sums over the
    DISTINCT-duration table in decreasing time order — at 100 TB the
    duration table is user-sized, so the running sums go through
    operators/prefix.distributed_cumsums (ONE range shuffle for all
    three columns, never a single-partition window). Covariates are
    round-6 decimals so every cumulative is exact; per-time terms are
    IEEE-identical doubles folded through decimal(38,18)."""
    from supabase_etl_spark.operators.prefix import distributed_cumsums

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
         / F.lit(1000000)).cast("bigint").alias("dur"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("delta"),
        F.round(F.log(F.lit(1) + F.count(F.lit(1))), 6)
        .cast("decimal(18,6)")
        .alias("x"),
    )
    at_t = u.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum("delta").cast("bigint").alias("d_t"),
        F.sum(
            F.when(F.col("delta") == 1, F.col("x")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )
        ).alias("sdx"),
    )
    cum = distributed_cumsums(
        at_t,
        values=["n_t", "sx", "sx2"],
        order=[F.col("dur").desc()],
        outs=["big_n", "big_sx", "big_sx2"],
    )
    xbar = F.col("big_sx").cast("double") / F.col("big_n").cast("double")
    u_term = (
        F.col("sdx").cast("double") - F.col("d_t").cast("double") * xbar
    ).cast("decimal(38,18)")
    v_term = (
        F.col("d_t").cast("double")
        * (F.col("big_sx2").cast("double") / F.col("big_n").cast("double")
           - xbar * xbar)
    ).cast("decimal(38,18)")
    terms = cum.filter(F.col("d_t") > 0).select(
        u_term.alias("u_term"), v_term.alias("v_term")
    )
    sub = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
        F.sum("delta").cast("bigint").alias("n_observed"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.round(F.sum("u_term").cast("double"), 6).alias("score_u"),
        F.round(F.sum("v_term").cast("double"), 6).alias("info_v"),
    )
    return sub.crossJoin(F.broadcast(agg)).select(
        "n_subjects",
        "n_observed",
        "n_event_times",
        "score_u",
        "info_v",
        F.round(F.col("score_u") / F.sqrt(F.col("info_v")), 6).alias("z_score"),
    )
