"""Data-quality validation — the constraint gate every production
pipeline runs before publishing a table (expectation checks in the
dbt-test / Deequ / Delta-constraints family, expressed as one
aggregate-only plan).

Each check computes a metric and a boolean verdict; the result is a
small (check, metric, pass) table. At 100 TB every check here is a
scan + partial agg (no joins except the FK probe, which is a
broadcast-able anti-join count), so the whole gate costs about one
pass over each table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query


@query(
    "dq_validate",
    oracle="""
    WITH pk AS (
        SELECT count(*) - count(DISTINCT o_orderkey) AS dup_pk FROM orders
    ),
    nulls AS (
        SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS null_frac
        FROM orders
    ),
    fk AS (
        SELECT count(*) AS orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
    ),
    rng AS (
        SELECT SUM(CASE WHEN l_quantity <= 0 OR l_discount < 0 OR l_discount > 1
                        THEN 1 ELSE 0 END) AS bad_rows
        FROM lineitem
    ),
    enum_chk AS (
        SELECT SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
               AS bad_rows
        FROM lineitem
    )
    SELECT 'orders_pk_unique' AS check_name, CAST(dup_pk AS DOUBLE) AS metric,
           dup_pk = 0 AS pass FROM pk
    UNION ALL
    SELECT 'orders_custkey_not_null', null_frac, null_frac = 0.0 FROM nulls
    UNION ALL
    SELECT 'lineitem_fk_orders', CAST(orphans AS DOUBLE), orphans = 0 FROM fk
    UNION ALL
    SELECT 'lineitem_value_ranges', CAST(bad_rows AS DOUBLE), bad_rows = 0 FROM rng
    UNION ALL
    SELECT 'lineitem_returnflag_domain', CAST(bad_rows AS DOUBLE), bad_rows = 0
    FROM enum_chk
    ORDER BY check_name
    """,
    tags=("dq",),
    scans=(
        "rule-pack audit: duplicate-PK probe is a pruned key scan",
        "rule-pack audit: null-fraction probe scans its own column set",
        "rule-pack audit: range probe scans its own column set",
    ),
)
def dq_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five constraint checks: PK uniqueness, null fraction, referential
    integrity (anti-join count), numeric ranges, enum domain."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dup_pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("m")
    ).select(
        F.lit("orders_pk_unique").alias("check_name"),
        F.col("m").cast("double").alias("metric"),
        (F.col("m") == 0).alias("pass"),
    )
    null_frac = o.agg(
        (
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    ).select(
        F.lit("orders_custkey_not_null").alias("check_name"),
        F.col("m").alias("metric"),
        (F.col("m") == 0.0).alias("pass"),
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("m"))
        .select(
            F.lit("lineitem_fk_orders").alias("check_name"),
            F.col("m").cast("double").alias("metric"),
            (F.col("m") == 0).alias("pass"),
        )
    )
    bad_range = li.agg(
        F.sum(
            F.when(
                (F.col("l_quantity") <= 0)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1),
                1,
            ).otherwise(0)
        ).alias("m")
    ).select(
        F.lit("lineitem_value_ranges").alias("check_name"),
        F.col("m").cast("double").alias("metric"),
        (F.col("m") == 0).alias("pass"),
    )
    bad_enum = li.agg(
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("m")
    ).select(
        F.lit("lineitem_returnflag_domain").alias("check_name"),
        F.col("m").cast("double").alias("metric"),
        (F.col("m") == 0).alias("pass"),
    )
    return (
        dup_pk.unionByName(null_frac)
        .unionByName(orphans)
        .unionByName(bad_range)
        .unionByName(bad_enum)
        .orderBy("check_name")
    )


@query(
    "dq_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT)
               AS n_null_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS total_price,
           max(o_totalprice) AS max_price
    FROM orders
    """,
    tags=("dq", "observe"),
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via `df.observe(Observation, ...)`: the
    metrics accumulate ON the executors DURING the write action —
    zero extra pass, unlike a separate dq query that re-scans the
    table. This is how a 100 TB load publishes row counts / null
    rates / control totals without doubling its IO; the sink action
    here is a noop-format write standing in for the production sink.
    The observed values land in a one-row DataFrame for the oracle."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("n_null_price"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_price"],
                m["total_price"],
                m["max_price"],
            )
        ],
        "n_rows bigint, n_null_price bigint, total_price double, max_price double",
    )


@query(
    "dq_skew_report",
    oracle="""
    WITH cnt AS (
        SELECT event_type, user_id, count(*) AS c
        FROM events GROUP BY event_type, user_id
    ),
    top1 AS (
        SELECT event_type, user_id AS top_user, c AS top_cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, user_id) AS rn
        FROM cnt
    )
    SELECT c.event_type,
           CAST(SUM(c.c) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           max(c.c) AS max_cnt,
           round(CAST(quantile_cont(c.c, 0.9) AS DOUBLE), 6) AS p90_cnt,
           round(max(c.c) * count(*) / CAST(SUM(c.c) AS DOUBLE), 6)
             AS skew_ratio,
           min(t.top_user) AS top_user
    FROM cnt c JOIN (SELECT * FROM top1 WHERE rn = 1) t USING (event_type)
    GROUP BY c.event_type
    ORDER BY c.event_type
    """,
    tags=("dq", "scale"),
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic — the profiling pass run BEFORE choosing a
    join/agg strategy at 100 TB: per grouping key domain (event_type ×
    user_id here) report cardinality, the heaviest key and its mass,
    the p90 per-key count, and skew_ratio = max/mean (1.0 = uniform;
    the threshold AQE's skew-join and the salting lever in
    scale_levers key off). Two skinny aggregations over the per-key
    count table; the raw stream is shuffled once."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("c"), "user_id")
    top1 = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("top_user"))
    )
    return (
        cnt.join(top1, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_cnt"),
            F.round(F.expr("percentile(c, 0.9)"), 6).alias("p90_cnt"),
            F.round(
                F.max("c") * F.count(F.lit(1)) / F.sum("c").cast("double"), 6
            ).alias("skew_ratio"),
            F.min("top_user").alias("top_user"),
        )
        .orderBy("event_type")
    )


PSI_BINS = 10        # fixed-width value bins
PSI_BIN_WIDTH = 50.0  # events.value spans ~[0, 500)
PSI_ALERT = 0.1      # the conventional "investigate" threshold


@query(
    "dq_drift_psi",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(event_id % 2 AS INT) AS cohort,
               LEAST({PSI_BINS - 1},
                     GREATEST(0, CAST(floor(value / {PSI_BIN_WIDTH}) AS INT))) AS bin
        FROM events
    ),
    cnt AS (
        SELECT event_type, bin,
               CAST(count(*) FILTER (WHERE cohort = 0) AS BIGINT) AS na,
               CAST(count(*) FILTER (WHERE cohort = 1) AS BIGINT) AS nb
        FROM ev GROUP BY event_type, bin
    ),
    spine AS (
        SELECT event_type, CAST(i AS INT) AS bin
        FROM (SELECT DISTINCT event_type FROM ev),
             unnest(range(0, {PSI_BINS})) AS t(i)
    ),
    filled AS (
        SELECT s.event_type, s.bin,
               COALESCE(c.na, 0) AS na, COALESCE(c.nb, 0) AS nb
        FROM spine s LEFT JOIN cnt c
          ON s.event_type = c.event_type AND s.bin = c.bin
    ),
    tot AS (
        SELECT event_type,
               CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
        FROM filled GROUP BY event_type
    ),
    terms AS (
        SELECT f.event_type, t.ta, t.tb,
               ((f.na + 1) / CAST(t.ta + {PSI_BINS} AS DOUBLE)
                - (f.nb + 1) / CAST(t.tb + {PSI_BINS} AS DOUBLE))
               * ln(((f.na + 1) / CAST(t.ta + {PSI_BINS} AS DOUBLE))
                    / ((f.nb + 1) / CAST(t.tb + {PSI_BINS} AS DOUBLE))) AS term
        FROM filled f JOIN tot t USING (event_type)
    )
    SELECT event_type,
           MIN(ta) AS n_a, MIN(tb) AS n_b,
           round(CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE), 6) AS psi,
           round(CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE), 6) > {PSI_ALERT}
               AS drift
    FROM terms
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("dq", "drift"),
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift check between two cohorts —
    the standard ML-monitoring gate for "has the feature distribution
    moved" (PSI > 0.1 investigate, > 0.25 act). Cohorts here are the
    deterministic A/B split ``event_id % 2`` (in production: last
    week vs this week, or control vs canary); the monitored feature is
    ``value`` in {PSI_BINS} fixed-width bins with add-1 smoothing so
    empty bins stay finite.

    100 TB shape: one corpus scan into a (event_type × {PSI_BINS})-cell
    count grid via map-side-combined agg — the shuffle carries a few
    dozen cells per event type, nothing else; the bin spine, totals
    join, and PSI fold are all on that tiny grid. Per-bin terms are
    IEEE-identical across engines (literally parallel expressions);
    the over-bins sum goes through decimal so it is order-free, and
    the drift verdict compares the ROUNDED psi so no boundary float
    divergence can flip the boolean between engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2).cast("int").alias("cohort"),
        F.least(
            F.lit(PSI_BINS - 1),
            F.greatest(
                F.lit(0), F.floor(F.col("value") / PSI_BIN_WIDTH).cast("int")
            ),
        ).alias("bin"),
    )
    cnt = ev.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("cohort") == 0, 1)).alias("na"),
        F.count(F.when(F.col("cohort") == 1, 1)).alias("nb"),
    )
    cnt = pin(cnt)  # spine + psi terms (scan-leaf lint)
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1))).alias("bin"),
        )
        .select("event_type", F.col("bin").cast("int").alias("bin"))
    )
    filled = spine.join(cnt, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    pa = (F.col("na") + 1) / (F.col("ta") + PSI_BINS).cast("double")
    pb = (F.col("nb") + 1) / (F.col("tb") + PSI_BINS).cast("double")
    term = (pa - pb) * F.log(pa / pb)
    psi = F.round(F.sum(term.cast("decimal(38,18)")).cast("double"), 6)
    return (
        filled.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("ta").alias("n_a"),
            F.min("tb").alias("n_b"),
            psi.alias("psi"),
            (psi > PSI_ALERT).alias("drift"),
        )
        .orderBy("event_type")
    )


@query(
    "dq_table_stats",
    oracle="""
    WITH s AS (SELECT count(*) AS n FROM orders)
    SELECT * FROM (
        SELECT 'o_custkey' AS col,
               (SELECT n FROM s) AS n_rows,
               CAST(count(o_custkey) AS BIGINT) AS n_non_null,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
               CAST(min(o_custkey) AS VARCHAR) AS min_val,
               CAST(max(o_custkey) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', (SELECT n FROM s),
               CAST(count(o_orderstatus) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               CAST(min(o_orderstatus) AS VARCHAR),
               CAST(max(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', (SELECT n FROM s),
               CAST(count(o_totalprice) AS BIGINT),
               CAST(count(DISTINCT o_totalprice) AS BIGINT),
               CAST(round(min(o_totalprice), 6) AS VARCHAR),
               CAST(round(max(o_totalprice), 6) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', (SELECT n FROM s),
               CAST(count(o_orderdate) AS BIGINT),
               CAST(count(DISTINCT o_orderdate) AS BIGINT),
               CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR),
               CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)
        FROM orders
    )
    ORDER BY col
    """,
    tags=("dq", "stats"),
)
def dq_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics — the inputs every
    cost-based optimizer (and every data-quality dashboard) wants:
    per-column row count, non-null count, exact NDV, min and max,
    emitted as one narrow (column, stats) table. ONE scan computes all
    columns' moments simultaneously (a single aggregate with
    count/min/max per column plus count-distincts — Spark rewrites
    multiple exact distincts via expand, trading one scan for a wider
    shuffle; at 100 TB you swap in approx_count_distinct and the plan
    collapses to a plain one-pass agg, same shape as this query's
    non-distinct moments). Values stringify so heterogeneous column
    types share the narrow schema — the same convention
    ANALYZE ... COMPUTE STATISTICS FOR COLUMNS uses in its own
    catalog table."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("ndv_custkey"),
        F.min("o_custkey").alias("min_custkey"),
        F.max("o_custkey").alias("max_custkey"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("ndv_status"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("ndv_price"),
        F.round(F.min("o_totalprice"), 6).alias("min_price"),
        F.round(F.max("o_totalprice"), 6).alias("max_price"),
        F.count("o_orderdate").alias("nn_date"),
        F.countDistinct("o_orderdate").alias("ndv_date"),
        F.min(F.col("o_orderdate").cast("date")).alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_date"),
    )
    rows = F.array(
        F.struct(
            F.lit("o_custkey").alias("col"),
            F.col("nn_custkey").alias("n_non_null"),
            F.col("ndv_custkey").alias("ndv"),
            F.col("min_custkey").cast("string").alias("min_val"),
            F.col("max_custkey").cast("string").alias("max_val"),
        ),
        F.struct(
            F.lit("o_orderstatus").alias("col"),
            F.col("nn_status").alias("n_non_null"),
            F.col("ndv_status").alias("ndv"),
            F.col("min_status").cast("string").alias("min_val"),
            F.col("max_status").cast("string").alias("max_val"),
        ),
        F.struct(
            F.lit("o_totalprice").alias("col"),
            F.col("nn_price").alias("n_non_null"),
            F.col("ndv_price").alias("ndv"),
            F.col("min_price").cast("string").alias("min_val"),
            F.col("max_price").cast("string").alias("max_val"),
        ),
        F.struct(
            F.lit("o_orderdate").alias("col"),
            F.col("nn_date").alias("n_non_null"),
            F.col("ndv_date").alias("ndv"),
            F.col("min_date").cast("string").alias("min_val"),
            F.col("max_date").cast("string").alias("max_val"),
        ),
    )
    return (
        stats.select("n_rows", F.explode(rows).alias("s"))
        .select(
            F.col("s.col").alias("col"),
            "n_rows",
            F.col("s.n_non_null").alias("n_non_null"),
            F.col("s.ndv").alias("ndv"),
            F.col("s.min_val").alias("min_val"),
            F.col("s.max_val").alias("max_val"),
        )
        .orderBy("col")
    )


@query(
    "dq_winsorize",
    oracle="""
    WITH th AS (
        SELECT event_type,
               round(CAST(quantile_cont(value, 0.01) AS DOUBLE), 6) AS p01,
               round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99
        FROM events GROUP BY event_type
    ),
    clipped AS (
        SELECT e.event_type, th.p01, th.p99, e.value,
               CASE WHEN e.value < th.p01 THEN th.p01
                    WHEN e.value > th.p99 THEN th.p99
                    ELSE e.value END AS wv
        FROM events e JOIN th USING (event_type)
    )
    SELECT event_type,
           CAST(min(p01) AS DOUBLE) AS p01,
           CAST(min(p99) AS DOUBLE) AS p99,
           CAST(SUM(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 6) AS mean_raw,
           round(CAST(SUM(CAST(wv AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 6) AS mean_winsorized
    FROM clipped
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("dq", "stats"),
)
def dq_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the outlier-taming step of numeric feature prep
    (clip, don't drop): per group, values outside the exact [p01, p99]
    band clamp to the band edges; the report carries the thresholds,
    clip counts, and the raw-vs-winsorized mean shift. Thresholds
    compute as one grouped percentile agg (group-sized, broadcast back
    over the scan — the ppl_buckets / TF-IDF pattern); clamping is a
    stateless per-row CASE; both engines compare against the ROUNDED
    thresholds so a 1-ulp quantile divergence cannot flip a clip.
    At 100 TB: approx_percentile or the registry's mergeable t-digest
    replaces the exact quantile with the identical downstream plan."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    th = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.01)"), 6).alias("p01"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )
    wv = (
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
    )
    return (
        ev.join(F.broadcast(th), "event_type")
        .select("event_type", "p01", "p99", "value", wv.alias("wv"))
        .groupBy("event_type")
        .agg(
            F.min("p01").alias("p01"),
            F.min("p99").alias("p99"),
            F.count(F.when(F.col("value") < F.col("p01"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias("n_clipped_high"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(F.col("wv").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


KANON_K = 5  # the privacy threshold under audit


@query(
    "dq_k_anonymity",
    oracle=f"""
    WITH quasi AS (
        SELECT c_nationkey,
               c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS grp_n
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT CAST(min(grp_n) AS BIGINT) AS k_anonymity,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_classes,
           CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           round(CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN grp_n ELSE 0 END)
                      AS DOUBLE) / SUM(grp_n), 6) AS suppression_rate
    FROM quasi
    """,
    tags=("dq", "privacy"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the quasi-identifier
    tuple (nation, market segment, coarse balance band): the dataset's
    k is the SMALLEST equivalence-class size — any class under the
    target k={KANON_K} re-identifies its members, and the report
    quantifies the suppression cost of publishing (rows that must be
    dropped or further generalized). The governance sibling of
    text_pii_scrub: scrub removes direct identifiers, this audits the
    indirect ones.

    One grouped count on the quasi-identifier tuple + one tiny rollup
    — at 100 TB it is exactly a group-by-cardinality problem, skew
    bounded by the generalization the analyst chose (that choice, not
    the engine, is the privacy/utility dial). Integer counts
    throughout; one rounded ratio."""
    c = load_table(spark, sf_dir, "customer")
    quasi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    risk = F.sum(F.when(F.col("grp_n") < KANON_K, F.col("grp_n")).otherwise(0))
    return quasi.agg(
        F.min("grp_n").alias("k_anonymity"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("grp_n") < KANON_K, 1).otherwise(0)).alias(
            "n_violating_classes"
        ),
        risk.alias("n_rows_at_risk"),
        F.round(risk.cast("double") / F.sum("grp_n"), 6).alias("suppression_rate"),
    )


@query(
    "dq_quarantine_split",
    oracle="""
    WITH flagged AS (
        SELECT l_orderkey, l_linenumber,
               (l_quantity < 1 OR l_quantity > 50) AS r_qty,
               (l_discount > 0.05) AS r_disc,
               (l_tax > 0.07) AS r_tax,
               (l_shipdate < DATE '1993-01-01') AS r_early
        FROM lineitem
    ),
    reasons AS (
        SELECT 'qty_out_of_range' AS reason, count(*) FILTER (WHERE r_qty) AS n_rows
        FROM flagged
        UNION ALL
        SELECT 'high_discount', count(*) FILTER (WHERE r_disc) FROM flagged
        UNION ALL
        SELECT 'tax_above_cap', count(*) FILTER (WHERE r_tax) FROM flagged
        UNION ALL
        SELECT 'ship_before_1993', count(*) FILTER (WHERE r_early) FROM flagged
        UNION ALL
        SELECT '__quarantined__',
               count(*) FILTER (WHERE r_qty OR r_disc OR r_tax OR r_early)
        FROM flagged
        UNION ALL
        SELECT '__clean__',
               count(*) FILTER (WHERE NOT (r_qty OR r_disc OR r_tax OR r_early))
        FROM flagged
    )
    SELECT reason, n_rows FROM reasons ORDER BY reason
    """,
    tags=("dq",),
)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level QUARANTINE SPLIT — the pipeline shape dq_validate's
    check metrics feed: every row is evaluated against the rule suite
    at once (one scan, reasons collected as an array column), rows
    with any failure route to quarantine WITH their reason list, clean
    rows flow on. The gate row reports per-reason counts plus the
    clean/quarantined split; in production the same `reasons` column
    rides along into the quarantine sink so triage never re-derives
    why a row was held. One scan, one tiny agg — no shuffle carries
    the wide row."""
    li = load_table(spark, sf_dir, "lineitem")
    rules = [
        ("qty_out_of_range", (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ("high_discount", F.col("l_discount") > 0.05),
        ("tax_above_cap", F.col("l_tax") > 0.07),
        ("ship_before_1993", F.col("l_shipdate") < F.lit("1993-01-01").cast("date")),
    ]
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in rules]
        ),
        lambda x: x.isNotNull(),
    )
    flagged = li.select(reasons.alias("reasons"))
    per_reason = (
        flagged.select(F.explode("reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    split = flagged.agg(
        F.sum(F.when(F.size("reasons") > 0, 1).otherwise(0)).alias("q"),
        F.sum(F.when(F.size("reasons") == 0, 1).otherwise(0)).alias("c"),
    )
    summary = split.select(
        F.explode(
            F.create_map(
                F.lit("__quarantined__"), F.col("q"), F.lit("__clean__"), F.col("c")
            )
        ).alias("reason", "n_rows")
    )
    # rules that fired on zero rows still need their gate row
    all_rules = spark.createDataFrame(
        [(name,) for name, _ in rules], "reason string"
    )
    per_reason_full = (
        all_rules.join(per_reason, "reason", "left")
        .select("reason", F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"))
    )
    return per_reason_full.unionByName(summary).orderBy("reason")


KS_SPLIT_DATE = "1995-06-01"


@query(
    "dq_drift_ks",
    oracle=f"""
    WITH tagged AS (
        SELECT l_extendedprice AS v,
               CASE WHEN l_shipdate < DATE '{KS_SPLIT_DATE}' THEN 1 ELSE 0 END AS in_a
        FROM lineitem
    ),
    per_v AS (
        SELECT v,
               CAST(SUM(in_a) AS BIGINT) AS ca,
               CAST(SUM(1 - in_a) AS BIGINT) AS cb
        FROM tagged GROUP BY v
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v),
    cum AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
        FROM per_v
    )
    SELECT (SELECT CAST(na AS BIGINT) FROM tot) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM tot) AS n_b,
           CAST(max(abs(cum_a * (SELECT nb FROM tot)
                        - cum_b * (SELECT na FROM tot))) AS BIGINT) AS d_scaled,
           round(max(abs(cum_a * (SELECT nb FROM tot)
                         - cum_b * (SELECT na FROM tot)))
                 / CAST((SELECT na * nb FROM tot) AS DOUBLE), 9) AS ks
    FROM cum
    """,
    tags=("dq", "drift"),
)
def dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic — the
    distribution-shift alarm PSI's fixed bins can miss: KS is the max
    gap between the two empirical CDFs, computed here EXACTLY with
    integer cross-multiplication (|cumA·nB − cumB·nA|, divided once at
    the end) so there is no per-row float accumulation to drift. The
    CDF running totals use the DISTRIBUTED prefix-sum operator
    (operators/prefix.py: range repartition + partition-local window +
    broadcast offsets) — a bare Window.orderBy(v) would drag every
    distinct value through one task, the single-partition trap this
    registry bans. Samples: lineitem prices shipped before vs after
    {KS_SPLIT_DATE}."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_shipdate") < F.lit(KS_SPLIT_DATE).cast("date"))
        .cast("int")
        .alias("in_a"),
    )
    per_v = li.groupBy("v").agg(
        F.sum("in_a").cast("decimal(20,0)").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("decimal(20,0)").alias("cb"),
    )
    # Both running CDFs in ONE distributed prefix pass (the
    # operators/prefix.py construction, two-valued): range-partition
    # once, pin eagerly so the sampled range boundaries are fixed
    # for every consumer, then partition-local windows + broadcast
    # prefix offsets. Chaining two distributed_cumsum calls instead
    # would re-sample range boundaries between dependent frames.
    par = spark.sparkContext.defaultParallelism
    ranged = pin(
        per_v.repartitionByRange(par, "v")
        .withColumn("_pid", F.spark_partition_id()),
        eager=True,
    )
    wloc = Window.partitionBy("_pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum("ca").alias("_ta"), F.sum("cb").alias("_tb"))
        .select(
            "_pid",
            F.coalesce(F.sum("_ta").over(woff), F.lit(0)).alias("_oa"),
            F.coalesce(F.sum("_tb").over(woff), F.lit(0)).alias("_ob"),
        )
    )
    cum = (
        ranged.withColumn("_la", F.sum("ca").over(wloc))
        .withColumn("_lb", F.sum("cb").over(wloc))
        .join(F.broadcast(offsets), "_pid")
        .select(
            "v",
            (F.col("_la") + F.col("_oa")).alias("cum_a"),
            (F.col("_lb") + F.col("_ob")).alias("cum_b"),
        )
    )
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "na",
            "nb",
            F.abs(
                F.col("cum_a").cast("bigint") * F.col("nb")
                - F.col("cum_b").cast("bigint") * F.col("na")
            ).alias("gap"),
        )
        .groupBy("na", "nb")
        .agg(F.max("gap").alias("d_scaled"))
    )
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_scaled",
        F.round(
            F.col("d_scaled") / (F.col("na") * F.col("nb")).cast("double"), 9
        ).alias("ks"),
    )


@query(
    "dq_benford_law",
    oracle="""
    WITH pos AS (
        SELECT o_totalprice AS x FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
        SELECT CAST(floor(x / power(10, floor(log10(x)))) AS BIGINT) AS d
        FROM pos
    ),
    obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
    expected AS (
        SELECT unnest(range(1, 10)) AS d
    ),
    joined AS (
        SELECT e.d,
               COALESCE(o.n, 0) AS n,
               t.total,
               log10(1.0 + 1.0 / e.d) AS p_exp
        FROM expected e LEFT JOIN obs o ON e.d = o.d CROSS JOIN tot t
    )
    SELECT d AS leading_digit,
           CAST(n AS BIGINT) AS n_observed,
           round(CAST(n AS DOUBLE) / total, 6) AS freq_observed,
           round(p_exp, 6) AS freq_benford,
           round((n - total * p_exp) * (n - total * p_exp)
                 / (total * p_exp), 6) AS chi2_term
    FROM joined
    ORDER BY leading_digit
    """,
    tags=("dq", "audit"),
)
def dq_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic forensic DQ screen for fabricated or truncated numeric
    columns (natural multi-magnitude amounts follow P(d) =
    log10(1 + 1/d); synthetic/capped data visibly deviates, and the
    per-digit chi-square terms localize which digits drive it).

    The digit extraction floor(x / 10^floor(log10 x)) is pure per-row
    double arithmetic (IEEE-identical cross-engine); the rest is a
    9-group count. One scan, one 9-row aggregate — scan-bound at any
    scale, and the 9-digit spine LEFT JOIN makes absent digits report
    an explicit zero instead of a missing row."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    spine = spark.range(1, 10).select(F.col("id").alias("d"))
    p_exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    joined = (
        spine.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.coalesce("n", F.lit(0)).alias("n"),
            "total",
            p_exp.alias("p_exp"),
        )
    )
    chi2 = (
        (F.col("n") - F.col("total") * F.col("p_exp"))
        * (F.col("n") - F.col("total") * F.col("p_exp"))
        / (F.col("total") * F.col("p_exp"))
    )
    return joined.select(
        F.col("d").alias("leading_digit"),
        F.col("n").cast("bigint").alias("n_observed"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("freq_observed"),
        F.round("p_exp", 6).alias("freq_benford"),
        F.round(chi2, 6).alias("chi2_term"),
    ).orderBy("leading_digit")


AB_BUCKETS = 100
AB_SPLIT = 50  # bucket < 50 -> variant A


@query(
    "dq_ab_test_ztest",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               (((1103515245 * CAST(user_id AS BIGINT) + 12345)
                 % 2147483647) % {AB_BUCKETS}) < {AB_SPLIT} AS is_a,
               CAST(max(CASE WHEN event_type = 'purchase' AND value > 150
                             THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT CAST(count(*) FILTER (is_a) AS BIGINT) AS n_a,
               CAST(SUM(converted) FILTER (is_a) AS BIGINT) AS c_a,
               CAST(count(*) FILTER (NOT is_a) AS BIGINT) AS n_b,
               CAST(SUM(converted) FILTER (NOT is_a) AS BIGINT) AS c_b
        FROM users
    )
    SELECT n_a, c_a, n_b, c_b,
           round(CAST(c_a AS DOUBLE) / n_a, 6) AS p_a,
           round(CAST(c_b AS DOUBLE) / n_b, 6) AS p_b,
           round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / greatest(sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 1e-12), 6) AS z_score,
           abs((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
               / greatest(sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 1e-12)) > 1.96 AS significant_95
    FROM arms
    """,
    tags=("dq", "analytics", "experiment"),
)
def dq_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment readout: users split
    into deterministic LCG arms (the repo's reproducible-assignment
    discipline — rand() would unassign users between runs), conversion
    = any purchase event, pooled-variance z with the 1.96 two-sided
    gate. The whole test is one user-grouped scan plus a 1-row
    aggregate; every double (rates, pooled variance, z) is written
    identically in both engines so the verdict bit can't flip.

    Scale: conversion flags reduce user-locally (max of indicator),
    the arm rollup is a global 4-counter agg with map-side partials —
    scan-bound at any event volume."""
    A, B, P = 1_103_515_245, 12_345, 2_147_483_647
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("converted")
    ).select(
        "converted",
        (
            ((F.lit(A).cast("bigint") * F.col("user_id").cast("bigint") + B) % P)
            % AB_BUCKETS
            < AB_SPLIT
        ).alias("is_a"),
    )
    arms = users.agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("converted"))).cast("bigint").alias("c_a"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(~F.col("is_a"), F.col("converted"))).cast("bigint").alias("c_b"),
    )
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    p_pool = (F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.greatest(
        F.sqrt(
            p_pool
            * (1 - p_pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
        F.lit(1e-12),
    )
    return arms.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@query(
    "dq_chi_square_independence",
    oracle="""
    WITH obs AS (
        SELECT o_orderstatus AS r, o_orderpriority AS c, COUNT(*) AS o
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    rt AS (SELECT r, SUM(o) AS rt FROM obs GROUP BY r),
    ct AS (SELECT c, SUM(o) AS ct FROM obs GROUP BY c),
    n AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT obs.o,
               CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                   / CAST(n.n AS DOUBLE) AS exp
        FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n
    ),
    stat AS (
        SELECT round(CAST(SUM(CAST(
                   (CAST(o AS DOUBLE) - exp) * (CAST(o AS DOUBLE) - exp) / exp
                   AS DECIMAL(38,18))) AS DOUBLE), 6) AS chi2
        FROM cells
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM rt) AS nr,
               (SELECT COUNT(*) FROM ct) AS nc,
               (SELECT n FROM n) AS n
    )
    SELECT chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
                        * CAST(CASE WHEN nr < nc THEN nr - 1 ELSE nc - 1 END
                               AS DOUBLE))), 9) AS cramers_v
    FROM stat CROSS JOIN dims
    """,
    tags=("dq", "statistics"),
)
def dq_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (order status x order priority), plus Cramér's V effect
    size — the drift/association audit a feature store runs between a
    label column and a candidate feature.

    Observed counts are one hash aggregate; expected counts come from
    broadcast-joined row/column marginals (both bounded by category
    cardinality, tiny at any scale). The per-cell term is double
    arithmetic on identical operands in both engines; the cell sum runs
    through decimal(38,18) so the statistic is summation-order
    independent. One scan, three metadata-sized joins — scales to any
    row count because everything after the first aggregate is
    |categories|-sized.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("r"), F.col("o_orderpriority").alias("c")
    )
    obs = o.groupBy("r", "c").agg(F.count(F.lit(1)).alias("o"))
    obs = pin(obs)  # margins + cells (scan-leaf lint)
    rt = obs.groupBy("r").agg(F.sum("o").alias("rt"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            (
                F.col("rt").cast("double")
                * F.col("ct").cast("double")
                / F.col("n").cast("double")
            ).alias("exp"),
        )
    )
    od, ex = F.col("o").cast("double"), F.col("exp")
    stat = cells.agg(
        F.round(
            F.sum(((od - ex) * (od - ex) / ex).cast("decimal(38,18)"))
            .cast("double"),
            6,
        ).alias("chi2")
    )
    dims = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .crossJoin(n)
    )
    nr, nc = F.col("nr"), F.col("nc")
    return stat.crossJoin(F.broadcast(dims)).select(
        "chi2",
        ((nr - 1) * (nc - 1)).cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.when(nr < nc, nr - 1).otherwise(nc - 1).cast("double")
                )
            ),
            9,
        ).alias("cramers_v"),
    )


FRESH_SLA_HOURS = 24.0


@query(
    "dq_freshness_sla",
    oracle=f"""
    WITH per_feed AS (
        SELECT event_type AS feed,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MAX(ts) AS last_ts,
               CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
        FROM events GROUP BY event_type
    ),
    ref AS (SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) AS now_us FROM events)
    SELECT p.feed, p.n_rows, p.last_ts,
           CAST(r.now_us - p.last_us AS DOUBLE) / 3600000000.0 AS lag_hours,
           CAST(r.now_us - p.last_us AS DOUBLE) / 3600000000.0
               > {FRESH_SLA_HOURS} AS sla_breached
    FROM per_feed p CROSS JOIN ref r
    ORDER BY p.feed
    """,
    tags=("dq",),
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness SLA monitor: per feed (event type standing in for
    an ingestion source), the latest event time, its lag behind the
    corpus watermark in hours, and a 24-hour SLA breach flag — the
    first page of any pipeline-health dashboard. One grouped max over
    exact microsecond epochs; lag arithmetic is identical integer →
    double division in both engines, so the breach flags can't
    disagree."""
    ev = load_table(spark, sf_dir, "events")
    per_feed = ev.groupBy(F.col("event_type").alias("feed")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("ts").alias("last_ts"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )
    ref = ev.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    lag = (F.col("now_us") - F.col("last_us")).cast("double") / 3600000000.0
    return (
        per_feed.crossJoin(F.broadcast(ref))
        .select(
            "feed",
            "n_rows",
            "last_ts",
            lag.alias("lag_hours"),
            (lag > FRESH_SLA_HOURS).alias("sla_breached"),
        )
        .orderBy("feed")
    )


BOT_MIN_EVENTS = 50
BOT_CV_MAX = 0.35  # coefficient of variation of inter-arrival gaps


@query(
    "dq_bot_regularity",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               CAST(epoch_us(ts) AS BIGINT)
                   - CAST(LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS BIGINT)
                   AS gap_us
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
               CAST(SUM(CAST(gap_us AS DECIMAL(28,0))) AS DOUBLE) AS s,
               CAST(SUM(CAST(CAST(gap_us AS DOUBLE) * gap_us AS DECIMAL(38,0)))
                    AS DOUBLE) AS ss
        FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    ),
    stats AS (
        SELECT user_id, n_gaps,
               s / n_gaps AS mean_gap_us,
               sqrt((ss - s * s / n_gaps) / (n_gaps - 1)) / (s / n_gaps) AS cv
        FROM per_user WHERE n_gaps >= {BOT_MIN_EVENTS}
    )
    SELECT user_id, n_gaps,
           round(mean_gap_us / 1000000.0, 6) AS mean_gap_s,
           round(cv, 9) AS gap_cv,
           cv < {BOT_CV_MAX} AS flag_bot_like
    FROM stats
    ORDER BY user_id
    """,
    tags=("dq", "sessions"),
)
def dq_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-regularity screen: users whose inter-event gaps are too
    uniform (coefficient of variation below 0.35 over ≥50 gaps) —
    metronomic traffic is the classic scripted-client signature, while
    humans are bursty. Per-user lag window over exact microsecond
    epochs, then single-pass moment sums (exact decimal Σgap, Σgap²);
    the CV and flag are identical rational arithmetic in both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(28,0)")).cast("double").alias("s"),
        F.sum((F.col("gap_us").cast("double") * F.col("gap_us")).cast("decimal(38,0)"))
        .cast("double")
        .alias("ss"),
    )
    mean = F.col("s") / F.col("n_gaps")
    cv = (
        F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n_gaps")) / (F.col("n_gaps") - 1))
        / mean
    )
    return (
        per_user.filter(F.col("n_gaps") >= BOT_MIN_EVENTS)
        .select(
            "user_id",
            "n_gaps",
            F.round(mean / 1000000.0, 6).alias("mean_gap_s"),
            F.round(cv, 9).alias("gap_cv"),
            (cv < BOT_CV_MAX).alias("flag_bot_like"),
        )
        .orderBy("user_id")
    )


DP_EPSILON = 1.0  # per-query privacy budget; Laplace scale = sens/eps
DP_LCG_A, DP_LCG_B, DP_LCG_P = 1_103_515_245, 12_345, 2_147_483_647


@query(
    "dq_dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n,
               ROW_NUMBER() OVER (ORDER BY event_type) AS grp_idx
        FROM events GROUP BY event_type
    ),
    noised AS (
        SELECT event_type, true_n,
               (CAST(({DP_LCG_A} * grp_idx + {DP_LCG_B}) % {DP_LCG_P} AS DOUBLE)
                    / {DP_LCG_P}) - 0.5 AS u
        FROM counts
    )
    SELECT event_type, true_n,
           round(true_n + (CASE WHEN u >= 0 THEN -1.0 ELSE 1.0 END)
                 * (1.0 / {DP_EPSILON}) * ln(1.0 - 2.0 * ABS(u)), 6)
               AS noisy_n,
           {DP_EPSILON} AS epsilon
    FROM noised
    ORDER BY event_type
    """,
    tags=("dq", "privacy"),
    uwin=(
        'event_type-domain table (handful of categories)',
    ),
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of grouped counts via the Laplace
    mechanism (sensitivity 1, ε = 1): noise is inverse-CDF sampled,
    n + sign(u)·(1/ε)·ln(1−2|u|), from a deterministic LCG uniform per
    group — the derandomized-for-replay shape of every DP aggregation
    pipeline (production swaps the LCG for a seeded CSPRNG; the plan,
    sensitivity accounting, and budget column are identical). One
    grouped count; noise is per-group scalar arithmetic, and the
    release NEVER exposes per-row data — the true_n column here exists
    only because the oracle audit needs it."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    w = Window.orderBy("event_type")
    noised = counts.withColumn("grp_idx", F.row_number().over(w)).select(
        "event_type",
        "true_n",
        (
            (
                (F.lit(DP_LCG_A).cast("bigint") * F.col("grp_idx") + DP_LCG_B)
                % DP_LCG_P
            ).cast("double")
            / DP_LCG_P
            - 0.5
        ).alias("u"),
    )
    noise = (
        F.when(F.col("u") >= 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * (1.0 / DP_EPSILON)
        * F.log(1.0 - 2.0 * F.abs(F.col("u")))
    )
    return noised.select(
        "event_type",
        "true_n",
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
        F.lit(float(DP_EPSILON)).alias("epsilon"),
    ).orderBy("event_type")


LDIV_L = 2  # minimum distinct sensitive values per quasi-identifier class


@query(
    "dq_l_diversity",
    oracle=f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS grp_n,
               CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'delinquent'
                                        ELSE 'solvent' END) AS BIGINT) AS l_distinct
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT CAST(MIN(l_distinct) AS BIGINT) AS l_diversity,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN l_distinct < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_homogeneous_classes,
           CAST(SUM(CASE WHEN l_distinct < {LDIV_L} THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk
    FROM classes
    ORDER BY l_diversity
    """,
    tags=("dq", "privacy"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the homogeneity-attack complement of
    k-anonymity (same quasi-identifier classes as dq_k_anonymity): a
    class where every member shares the sensitive attribute (solvency
    here) leaks it even when k is satisfied. Counts classes whose
    sensitive-value diversity falls below l=2 and the rows they expose.
    One groupBy with a conditional distinct-count; class table is
    QI-cardinality-sized."""
    c = load_table(spark, sf_dir, "customer")
    sens = F.when(F.col("c_acctbal") < 0, "delinquent").otherwise("solvent")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("grp_n"),
        F.countDistinct(sens).alias("l_distinct"),
    )
    return classes.agg(
        F.min("l_distinct").alias("l_diversity"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("l_distinct") < LDIV_L, 1).otherwise(0)).alias(
            "n_homogeneous_classes"
        ),
        F.sum(F.when(F.col("l_distinct") < LDIV_L, F.col("grp_n")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
    ).orderBy("l_diversity")


@query(
    "dq_completeness_profile",
    oracle="""
    WITH cols AS (
        SELECT 'o_custkey' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
    )
    SELECT col_name, n_rows, n_null,
           1.0 - CAST(n_null AS DOUBLE) / n_rows AS fill_rate,
           CAST(n_null AS DOUBLE) / n_rows > 0.01 AS breaches_1pct
    FROM cols
    ORDER BY col_name
    """,
    tags=("dq",),
)
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness profile: per-column null counts, fill rate,
    and a 1% breach flag, computed for ALL profiled columns in ONE
    aggregation pass — the conditional-count unpivot pattern (never one
    scan per column, which is how naive profilers go quadratic on wide
    tables). The Spark side aggregates once and stacks the result; the
    oracle spells out the per-column semantics."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus", "o_totalprice"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
    one = o.agg(*aggs)
    stack_expr = "stack({n}, {args}) AS (col_name, n_null)".format(
        n=len(cols), args=", ".join(f"'{c}', null_{c}" for c in cols)
    )
    return (
        one.select(F.col("n_rows"), F.expr(stack_expr))
        .select(
            "col_name",
            "n_rows",
            "n_null",
            (1.0 - F.col("n_null").cast("double") / F.col("n_rows")).alias("fill_rate"),
            (F.col("n_null").cast("double") / F.col("n_rows") > 0.01).alias(
                "breaches_1pct"
            ),
        )
        .orderBy("col_name")
    )


@query(
    "dq_cross_field_rules",
    oracle="""
    WITH joined AS (
        SELECT o.o_orderpriority AS priority,
               CAST(l.l_shipdate AS DATE) AS ship_d,
               CAST(o.o_orderdate AS DATE) AS order_d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN ship_d < order_d THEN 1 ELSE 0 END) AS BIGINT)
               AS ship_before_order,
           CAST(SUM(CASE WHEN date_diff('day', order_d, ship_d) > 120
                         THEN 1 ELSE 0 END) AS BIGINT) AS ship_over_120d,
           CAST(SUM(CASE WHEN ship_d < order_d THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS violation_rate
    FROM joined
    GROUP BY priority
    ORDER BY priority
    """,
    tags=("dq",),
)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FIELD (and cross-TABLE) consistency rules: ship-before-
    order violations and >120-day shipping outliers per priority —
    the temporal-sanity checks single-column profilers can't express
    because the rule spans a join. One fact-dim equi-join and a
    grouped conditional count; at scale the join is the star-schema
    shuffle every fact query already pays."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    joined = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("l_shipdate").cast("date").alias("ship_d"),
        F.col("o_orderdate").cast("date").alias("order_d"),
    )
    viol = F.when(F.col("ship_d") < F.col("order_d"), 1).otherwise(0)
    return (
        joined.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(viol).alias("ship_before_order"),
            F.sum(
                F.when(F.datediff("ship_d", "order_d") > 120, 1).otherwise(0)
            ).alias("ship_over_120d"),
            (F.sum(viol).cast("double") / F.count(F.lit(1))).alias("violation_rate"),
        )
        .orderBy("priority")
    )


AB_Z_ALPHA = 1.959963984540054  # two-sided 5%
AB_Z_BETA = 0.8416212335729143  # 80% power
AB_Z_TOT2 = (AB_Z_ALPHA + AB_Z_BETA) ** 2  # shared (z_a + z_b)^2 literal


@query(
    "dq_ab_power_analysis",
    oracle=f"""
    WITH arms AS (
        SELECT user_id % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    rates AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS p1,
               CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS p2,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM arms
    )
    SELECT n1, n2, p1, p2, p2 - p1 AS observed_delta,
           CASE WHEN p2 = p1 THEN CAST(NULL AS BIGINT)
                ELSE CAST(CEIL(CAST({AB_Z_TOT2!r} AS DOUBLE)
                               * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                               / ((p2 - p1) * (p2 - p1))) AS BIGINT) END
               AS n_per_arm_80pct
    FROM rates
    ORDER BY n1
    """,
    tags=("dq", "stats"),
)
def dq_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size (power) analysis: given the observed conversion
    rates of two deterministic arms, the per-arm n needed to detect the
    observed delta at 80% power / 5% two-sided alpha — the
    pre-experiment calculator that pairs the z-test operator (run it
    BEFORE the test, not after it fails). z-quantile constants are
    shared literals; everything else is exact count ratios and the
    closed-form two-proportion formula."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    ).select((F.col("user_id") % 2).alias("arm"), "conv")
    rates = arms.agg(
        (
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        ).alias("p1"),
        (
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        ).alias("p2"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n2"),
    )
    delta = F.col("p2") - F.col("p1")
    n_req = F.when(F.col("p2") == F.col("p1"), F.lit(None).cast("bigint")).otherwise(
        F.ceil(
            F.lit(AB_Z_TOT2)
            * (F.col("p1") * (1.0 - F.col("p1")) + F.col("p2") * (1.0 - F.col("p2")))
            / (delta * delta)
        ).cast("bigint")
    )
    return rates.select(
        "n1", "n2", "p1", "p2", delta.alias("observed_delta"), n_req.alias("n_per_arm_80pct")
    ).orderBy("n1")


@query(
    "dq_referential_integrity",
    oracle="""
    WITH checks AS (
        SELECT 'orders.o_custkey->customer' AS relationship,
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_child,
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM part p
                                       WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                       WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    )
    SELECT relationship, n_child, n_orphans,
           ROUND(CAST(n_orphans AS DOUBLE) / n_child, 9) AS orphan_rate,
           n_orphans = 0 AS fk_valid
    FROM checks
    ORDER BY relationship
    """,
    tags=("dq", "integrity"),
    scans=(
        "per-FK audit: lineitem->orders check is a column-pruned key scan",
        "per-FK audit: lineitem->part check likewise",
        "per-FK audit: lineitem->supplier check likewise",
        "per-FK audit: orders->customer check likewise",
        "each check scans only its own FK column pair; a fused pass would read every key column of every child table and prune nothing",
        "parent key sides are dedup-projected scans of their own tables",
    ),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each child
    -> parent relationship, count child rows whose key has no parent
    (left_anti join) and flag the constraint. The classic pre-join
    data-contract check every warehouse load runs. Each anti join
    shuffles on its own key (or broadcasts when the parent is a dim
    table — customer/supplier/part here); counts are
    map-side-combined. Output is one row per relationship."""

    def check(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, name: str) -> DataFrame:
        n_child = child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
        orphans = child.join(
            parent, child[ckey] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        return (
            n_child.crossJoin(orphans)
            .select(
                F.lit(name).alias("relationship"),
                "n_child",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double") / F.col("n_child"), 9
                ).alias("orphan_rate"),
                (F.col("n_orphans") == 0).alias("fk_valid"),
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    out = (
        check(orders, "o_custkey", customer, "c_custkey", "orders.o_custkey->customer")
        .unionAll(check(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders"))
        .unionAll(check(lineitem, "l_partkey", part, "p_partkey", "lineitem.l_partkey->part"))
        .unionAll(check(lineitem, "l_suppkey", supplier, "s_suppkey", "lineitem.l_suppkey->supplier"))
    )
    return out.orderBy("relationship")


@query(
    "dq_functional_dependency",
    oracle="""
    WITH fd1 AS (
        SELECT COUNT(*) AS n_lhs_groups,
               SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS n_violations,
               MAX(d) AS max_rhs_distinct
        FROM (SELECT COUNT(DISTINCT p_type) AS d FROM part GROUP BY p_brand)
    ),
    fd2 AS (
        SELECT COUNT(*), SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END), MAX(d)
        FROM (SELECT COUNT(DISTINCT p_name) AS d FROM part GROUP BY p_partkey)
    ),
    fd3 AS (
        SELECT COUNT(*), SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END), MAX(d)
        FROM (SELECT COUNT(DISTINCT o_orderpriority) AS d
              FROM orders GROUP BY o_custkey)
    ),
    fd4 AS (
        SELECT COUNT(*), SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END), MAX(d)
        FROM (SELECT COUNT(DISTINCT n_regionkey) AS d
              FROM nation GROUP BY n_nationkey)
    ),
    labeled AS (
        SELECT 'part.p_brand->p_type' AS fd, * FROM fd1
        UNION ALL SELECT 'part.p_partkey->p_name', * FROM fd2
        UNION ALL SELECT 'orders.o_custkey->o_orderpriority', * FROM fd3
        UNION ALL SELECT 'nation.n_nationkey->n_regionkey', * FROM fd4
    )
    SELECT fd, CAST(n_lhs_groups AS BIGINT) AS n_lhs_groups,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(max_rhs_distinct AS BIGINT) AS max_rhs_distinct,
           n_violations = 0 AS holds
    FROM labeled
    ORDER BY fd
    """,
    tags=("dq", "profiling"),
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (profiling-suite staple, the
    single-FD slice of what Metanome/Deequ uniqueness analyzers do):
    for each declared candidate FD lhs -> rhs, group by lhs, count
    distinct rhs per group, and report how many groups violate the
    dependency. At 100 TB each FD is one shuffle on its lhs with
    map-side partial distinct aggregation; the verdict table is one
    row per FD, so the reduce side is metadata-sized."""

    def audit(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        per_group = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("d"))
        return per_group.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lhs_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.max("d").cast("bigint").alias("max_rhs_distinct"),
        ).select(
            F.lit(name).alias("fd"),
            "n_lhs_groups",
            "n_violations",
            "max_rhs_distinct",
            (F.col("n_violations") == 0).alias("holds"),
        )

    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    out = (
        audit(part, "p_brand", "p_type", "part.p_brand->p_type")
        .unionAll(audit(part, "p_partkey", "p_name", "part.p_partkey->p_name"))
        .unionAll(
            audit(orders, "o_custkey", "o_orderpriority",
                  "orders.o_custkey->o_orderpriority")
        )
        .unionAll(
            audit(nation, "n_nationkey", "n_regionkey",
                  "nation.n_nationkey->n_regionkey")
        )
    )
    return out.orderBy("fd")


@query(
    "dq_candidate_keys",
    oracle="""
    WITH k1 AS (
        SELECT (SELECT COUNT(*) FROM orders) AS n_rows,
               COUNT(*) AS n_groups, MAX(n) AS max_dup
        FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    ),
    k2 AS (
        SELECT (SELECT COUNT(*) FROM orders), COUNT(*), MAX(n)
        FROM (SELECT COUNT(*) AS n FROM orders
              GROUP BY o_custkey, o_orderdate)
    ),
    k3 AS (
        SELECT (SELECT COUNT(*) FROM lineitem), COUNT(*), MAX(n)
        FROM (SELECT COUNT(*) AS n FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
    ),
    k4 AS (
        SELECT (SELECT COUNT(*) FROM lineitem), COUNT(*), MAX(n)
        FROM (SELECT COUNT(*) AS n FROM lineitem
              GROUP BY l_partkey, l_suppkey)
    ),
    labeled AS (
        SELECT 'orders(o_orderkey)' AS candidate, * FROM k1
        UNION ALL SELECT 'orders(o_custkey,o_orderdate)', * FROM k2
        UNION ALL SELECT 'lineitem(l_orderkey,l_linenumber)', * FROM k3
        UNION ALL SELECT 'lineitem(l_partkey,l_suppkey)', * FROM k4
    )
    SELECT candidate, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(max_dup AS BIGINT) AS max_dup,
           ROUND(CAST(n_groups AS DOUBLE) / n_rows, 9) AS uniqueness,
           max_dup = 1 AS is_key
    FROM labeled
    ORDER BY candidate
    """,
    tags=("dq", "profiling"),
    scans=(
        "each candidate-key uniqueness probe is a column-pruned count-distinct scan of exactly the probed columns",
        "probing k candidate keys = k pruned scans by design (a fused scan would read the union of all candidate columns)",
        "orders carries multiple candidate probes",
        "lineitem carries multiple candidate probes",
        "composite-key probes scan their own column pairs",
    ),
)
def dq_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over declared column combinations:
    distinct-group count vs row count plus the worst duplication
    factor, flagging combos that are true keys. The uniqueness ratio
    is the standard profiling metric (Deequ's Uniqueness /
    ApproxCountDistinct pair, exact here). Each combo is one
    grouped count with map-side partials — at 100 TB, four shuffles
    keyed on the candidate columns, each reducing to one metadata
    row; no distinct-on-struct is materialized."""

    def probe(df: DataFrame, cols: list[str], name: str) -> DataFrame:
        total = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        groups = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.max("n").cast("bigint").alias("max_dup"),
            )
        )
        return total.crossJoin(groups).select(
            F.lit(name).alias("candidate"),
            "n_rows",
            "n_groups",
            "max_dup",
            F.round(F.col("n_groups").cast("double") / F.col("n_rows"), 9).alias(
                "uniqueness"
            ),
            (F.col("max_dup") == 1).alias("is_key"),
        )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    out = (
        probe(orders, ["o_orderkey"], "orders(o_orderkey)")
        .unionAll(
            probe(orders, ["o_custkey", "o_orderdate"],
                  "orders(o_custkey,o_orderdate)")
        )
        .unionAll(
            probe(lineitem, ["l_orderkey", "l_linenumber"],
                  "lineitem(l_orderkey,l_linenumber)")
        )
        .unionAll(
            probe(lineitem, ["l_partkey", "l_suppkey"],
                  "lineitem(l_partkey,l_suppkey)")
        )
    )
    return out.orderBy("candidate")


@query(
    "dq_missingness_patterns",
    oracle="""
    WITH masked AS (
        SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE props END AS props,
               CASE WHEN event_id % 11 = 3 THEN NULL ELSE event_type END
                   AS event_type
        FROM events
    ),
    flagged AS (
        SELECT (CASE WHEN value IS NULL THEN 'M' ELSE '-' END)
               || (CASE WHEN props IS NULL THEN 'M' ELSE '-' END)
               || (CASE WHEN event_type IS NULL THEN 'M' ELSE '-' END)
                   AS pattern,
               (CASE WHEN value IS NULL THEN 1 ELSE 0 END)
               + (CASE WHEN props IS NULL THEN 1 ELSE 0 END)
               + (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                   AS n_missing
        FROM masked
    )
    SELECT pattern, CAST(MAX(n_missing) AS INT) AS n_cols_missing,
           COUNT(*) AS n_rows,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (), 9) AS frac
    FROM flagged
    GROUP BY pattern
    ORDER BY pattern
    """,
    tags=("dq", "profiling"),
    uwin=(
        'missingness-pattern combos (<= 2^audited-columns rows)',
    ),
)
def dq_missingness_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-pattern profile (the md.pattern / missingno matrix):
    every row is reduced to its null-bitmap over the audited columns
    and patterns are counted — the first step of any MCAR/MAR
    analysis and imputation plan. The base tables ship null-free, so
    a deterministic mask (written identically in both engines) plants
    the nulls the profiler then measures. One grouped count on a
    pattern key with at most 2^k distinct values — map-side combine
    collapses it before the shuffle, so 100 TB costs one scan."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("props"))
        .alias("props"),
        F.when(F.col("event_id") % 11 == 3, None)
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    miss = lambda c: F.when(F.col(c).isNull(), "M").otherwise("-")  # noqa: E731
    bit = lambda c: F.when(F.col(c).isNull(), 1).otherwise(0)  # noqa: E731
    flagged = masked.select(
        F.concat(miss("value"), miss("props"), miss("event_type")).alias("pattern"),
        (bit("value") + bit("props") + bit("event_type")).alias("n_missing"),
    )
    total_w = Window.partitionBy()
    return (
        flagged.groupBy("pattern")
        .agg(
            F.max("n_missing").cast("int").alias("n_cols_missing"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn(
            "frac",
            F.round(
                F.col("n_rows").cast("double") / F.sum("n_rows").over(total_w), 9
            ),
        )
        .select("pattern", "n_cols_missing", "n_rows", "frac")
        .orderBy("pattern")
    )


@query(
    "dq_spc_control_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS xbar,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    ),
    lim AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(CAST(xbar AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS mu,
               CAST(SUM(CAST(xbar * xbar AS DECIMAL(28,6))) AS DOUBLE) AS s2
        FROM daily
    ),
    z AS (
        SELECT d.day, d.xbar, d.n,
               (d.xbar - l.mu)
               / sqrt((l.s2 - l.mu * l.mu * l.k) / (l.k - 1)) AS z
        FROM daily d CROSS JOIN lim l
    ),
    flags AS (
        SELECT day, xbar, n, z,
               abs(z) > 3 AS r1_beyond_3s,
               (SUM(CASE WHEN z > 2 THEN 1 ELSE 0 END) OVER w3 >= 2
                OR SUM(CASE WHEN z < -2 THEN 1 ELSE 0 END) OVER w3 >= 2)
                   AS r2_two_of_three_2s,
               (SUM(CASE WHEN z > 1 THEN 1 ELSE 0 END) OVER w5 >= 4
                OR SUM(CASE WHEN z < -1 THEN 1 ELSE 0 END) OVER w5 >= 4)
                   AS r3_four_of_five_1s,
               (COUNT(*) OVER w8 = 8
                AND abs(SUM(CASE WHEN z > 0 THEN 1 ELSE -1 END) OVER w8) = 8)
                   AS r4_eight_same_side
        FROM z
        WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(n AS BIGINT) AS n_orders, round(xbar, 9) AS xbar,
           round(z, 9) AS z,
           r1_beyond_3s, r2_two_of_three_2s, r3_four_of_five_1s,
           r4_eight_same_side
    FROM flags
    WHERE r1_beyond_3s OR r2_two_of_three_2s OR r3_four_of_five_1s
          OR r4_eight_same_side
    ORDER BY day
    """,
    tags=("dq", "monitoring"),
    uwin=(
        'day-grained daily series (<= timeline days)',
    ),
)
def dq_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control over the daily order-value mean:
    X-bar chart with the Western Electric run rules — (1) a point
    beyond 3σ, (2) 2-of-3 consecutive beyond 2σ same side, (3) 4-of-5
    beyond 1σ same side, (4) 8 consecutive on one side of the center
    line — the drift monitor a pipeline puts on every daily metric,
    catching slow regressions long before a hard threshold fires.
    Daily means and the control limits come from decimal moments;
    every rule is an integer count over a bounded ROWS window on the
    day-grained table, so 100 TB of orders reduces to one grouped agg
    and windows over ~O(days) rows. Returns only the violating days."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("xbar"),
        F.count(F.lit(1)).alias("n"),
    )
    lim = daily.agg(
        F.count(F.lit(1)).alias("k"),
        (
            F.sum(F.col("xbar").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.sum((F.col("xbar") * F.col("xbar")).cast("decimal(28,6)"))
        .cast("double")
        .alias("s2"),
    )
    z = daily.crossJoin(F.broadcast(lim)).select(
        "day",
        "xbar",
        "n",
        (
            (F.col("xbar") - F.col("mu"))
            / F.sqrt(
                (F.col("s2") - F.col("mu") * F.col("mu") * F.col("k"))
                / (F.col("k") - 1)
            )
        ).alias("z"),
    )
    w3 = Window.orderBy("day").rowsBetween(-2, 0)
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    w8 = Window.orderBy("day").rowsBetween(-7, 0)
    hi = lambda th, w: F.sum(F.when(F.col("z") > th, 1).otherwise(0)).over(w)  # noqa: E731
    lo = lambda th, w: F.sum(F.when(F.col("z") < -th, 1).otherwise(0)).over(w)  # noqa: E731
    flags = z.select(
        "day",
        "xbar",
        "n",
        "z",
        (F.abs(F.col("z")) > 3).alias("r1_beyond_3s"),
        ((hi(2, w3) >= 2) | (lo(2, w3) >= 2)).alias("r2_two_of_three_2s"),
        ((hi(1, w5) >= 4) | (lo(1, w5) >= 4)).alias("r3_four_of_five_1s"),
        (
            (F.count(F.lit(1)).over(w8) == 8)
            & (
                F.abs(
                    F.sum(F.when(F.col("z") > 0, 1).otherwise(-1)).over(w8)
                )
                == 8
            )
        ).alias("r4_eight_same_side"),
    )
    return (
        flags.filter(
            F.col("r1_beyond_3s")
            | F.col("r2_two_of_three_2s")
            | F.col("r3_four_of_five_1s")
            | F.col("r4_eight_same_side")
        )
        .select(
            "day",
            F.col("n").cast("bigint").alias("n_orders"),
            F.round("xbar", 9).alias("xbar"),
            F.round("z", 9).alias("z"),
            "r1_beyond_3s",
            "r2_two_of_three_2s",
            "r3_four_of_five_1s",
            "r4_eight_same_side",
        )
        .orderBy("day")
    )


@query(
    "dq_reconciliation_diff",
    oracle="""
    WITH target AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 1.01
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderkey % 131 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus
        FROM orders WHERE o_orderkey % 53 <> 0
    ),
    joined AS (
        SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
               s.o_totalprice AS sp, t.o_totalprice AS tp,
               s.o_orderstatus AS ss, t.o_orderstatus AS ts
        FROM orders s FULL OUTER JOIN target t
          ON s.o_orderkey = t.o_orderkey
    )
    SELECT
        CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_keys,
        CAST(SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_missing_in_target,
        CAST(SUM(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_extra_in_target,
        CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                      AND sp <> tp THEN 1 ELSE 0 END) AS BIGINT)
            AS n_price_mismatch,
        CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                      AND ss <> ts THEN 1 ELSE 0 END) AS BIGINT)
            AS n_status_mismatch,
        CAST(SUM(CASE WHEN sk IS NOT NULL AND tk IS NOT NULL
                      AND sp = tp AND ss = ts THEN 1 ELSE 0 END) AS BIGINT)
            AS n_identical
    FROM joined
    """,
    tags=("dq", "reconciliation"),
)
def dq_reconciliation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation (the data-diff every migration/backfill
    signs off on): source vs target full-outer-joined on the business
    key, reporting missing/extra keys and per-column cell mismatches.
    The target here is a deterministic perturbation of the source
    (dropped keys, price drift, status corruption) so the expected
    diff is exactly replayable. One key-partitioned full outer join +
    conditional counts with map-side partials — at 100 TB the
    standard move is bucketing both sides on the key so the join is
    shuffle-free; column comparisons never leave the joined row."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    target = o.filter(F.col("o_orderkey") % 53 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 1.01
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 131 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    s, t = o.alias("s"), target.alias("t")
    j = s.join(t, F.col("s.o_orderkey") == F.col("t.o_orderkey"), "full_outer")
    sk, tk = F.col("s.o_orderkey"), F.col("t.o_orderkey")
    both = sk.isNotNull() & tk.isNotNull()
    cnt = lambda c, al: F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(al)  # noqa: E731
    return j.agg(
        cnt(both, "n_matched_keys"),
        cnt(tk.isNull(), "n_missing_in_target"),
        cnt(sk.isNull(), "n_extra_in_target"),
        cnt(both & (F.col("s.o_totalprice") != F.col("t.o_totalprice")),
            "n_price_mismatch"),
        cnt(both & (F.col("s.o_orderstatus") != F.col("t.o_orderstatus")),
            "n_status_mismatch"),
        cnt(
            both
            & (F.col("s.o_totalprice") == F.col("t.o_totalprice"))
            & (F.col("s.o_orderstatus") == F.col("t.o_orderstatus")),
            "n_identical",
        ),
    )


@query(
    "dq_association_matrix",
    oracle="""
    WITH feat AS (
        SELECT 'priority~status' AS pair, o_orderpriority AS x,
               o_orderstatus AS y
        FROM orders
        UNION ALL
        SELECT 'returnflag~linestatus', l_returnflag, l_linestatus
        FROM lineitem
        UNION ALL
        SELECT 'brand~container_band',
               p_brand, CAST(p_size // 10 AS VARCHAR)
        FROM part
    ),
    cells AS (
        SELECT pair, x, y, CAST(count(*) AS BIGINT) AS o FROM feat
        GROUP BY pair, x, y
    ),
    marg AS (
        SELECT pair, x, y, o,
               CAST(SUM(o) OVER (PARTITION BY pair, x) AS BIGINT) AS rx,
               CAST(SUM(o) OVER (PARTITION BY pair, y) AS BIGINT) AS cy,
               CAST(SUM(o) OVER (PARTITION BY pair) AS BIGINT) AS n
        FROM cells
    ),
    dims AS (
        SELECT pair, COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS c
        FROM cells GROUP BY pair
    ),
    chi AS (
        SELECT pair, MAX(n) AS n,
               CAST(SUM(CAST(round(
                   (o - CAST(rx AS DOUBLE) * cy / n)
                   * (o - CAST(rx AS DOUBLE) * cy / n)
                   / (CAST(rx AS DOUBLE) * cy / n), 9) AS DECIMAL(38,12)))
                    AS DOUBLE) AS chi2
        FROM marg GROUP BY pair
    )
    SELECT ch.pair, CAST(ch.n AS BIGINT) AS n,
           CAST((d.r - 1) * (d.c - 1) AS BIGINT) AS dof,
           round(ch.chi2, 9) AS chi2,
           round(sqrt(ch.chi2 / (ch.n * (least(d.r, d.c) - 1))), 9)
               AS cramers_v
    FROM chi ch JOIN dims d ON ch.pair = d.pair
    ORDER BY ch.pair
    """,
    tags=("dq", "profiling"),
)
def dq_association_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association audit across declared column pairs:
    chi-square statistic, degrees of freedom, and Cramér's V — the
    normalized [0,1] association strength profilers report alongside
    MI, answering 'which columns are redundant / which leak the
    target'. Each pair collapses to its contingency cells (one grouped
    count, map-side partials); expected counts come from window
    marginals on the cell table (category-product-bounded); chi2
    terms are round-9-snapped into decimal sums. One scan per source
    table at any scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    feat = (
        o.select(
            F.lit("priority~status").alias("pair"),
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .unionAll(
            li.select(
                F.lit("returnflag~linestatus").alias("pair"),
                F.col("l_returnflag").alias("x"),
                F.col("l_linestatus").alias("y"),
            )
        )
        .unionAll(
            pt.select(
                F.lit("brand~container_band").alias("pair"),
                F.col("p_brand").alias("x"),
                F.floor(F.col("p_size") / 10).cast("string").alias("y"),
            )
        )
    )
    cells = feat.groupBy("pair", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    cells = pin(cells)  # margins + dims (scan-leaf lint)
    marg = cells.select(
        "pair",
        "x",
        "y",
        "o",
        F.sum("o").over(Window.partitionBy("pair", "x")).cast("bigint").alias("rx"),
        F.sum("o").over(Window.partitionBy("pair", "y")).cast("bigint").alias("cy"),
        F.sum("o").over(Window.partitionBy("pair")).cast("bigint").alias("n"),
    )
    dims = cells.groupBy("pair").agg(
        F.countDistinct("x").alias("r"), F.countDistinct("y").alias("c")
    )
    exp = F.col("rx").cast("double") * F.col("cy") / F.col("n")
    chi = marg.groupBy("pair").agg(
        F.max("n").alias("n"),
        F.sum(
            F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 9).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("chi2"),
    )
    return (
        chi.join(dims, "pair")
        .select(
            "pair",
            F.col("n").cast("bigint").alias("n"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
            F.round("chi2", 9).alias("chi2"),
            F.round(
                F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1))), 9
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


@query(
    "dq_seasonal_anomaly",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               dayofweek(CAST(ts AS DATE)) AS dow,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2
    ),
    baseline AS (
        SELECT dow,
               CAST(SUM(CAST(total AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                   AS dow_mean
        FROM daily GROUP BY dow
    ),
    resid AS (
        SELECT d.day, d.total, b.dow_mean, d.total - b.dow_mean AS r
        FROM daily d JOIN baseline b ON d.dow = b.dow
    ),
    rmed AS (
        SELECT CAST(SUM(CASE WHEN rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                                         CAST(floor((n + 2) / 2.0) AS BIGINT))
                             THEN r ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                                      CAST(floor((n + 2) / 2.0) AS BIGINT))
                          THEN 1 ELSE 0 END) AS m
        FROM (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn,
                     COUNT(*) OVER () AS n FROM resid)
    ),
    absr AS (
        SELECT day, total, dow_mean, r,
               ABS(r - (SELECT m FROM rmed)) AS ar
        FROM resid
    ),
    madv AS (
        SELECT CAST(SUM(CASE WHEN rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                                         CAST(floor((n + 2) / 2.0) AS BIGINT))
                             THEN ar ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN rn IN (CAST(floor((n + 1) / 2.0) AS BIGINT),
                                      CAST(floor((n + 2) / 2.0) AS BIGINT))
                          THEN 1 ELSE 0 END) AS mad
        FROM (SELECT ar, ROW_NUMBER() OVER (ORDER BY ar) AS rn,
                     COUNT(*) OVER () AS n FROM absr)
    )
    SELECT a.day, round(a.total, 6) AS total,
           round(a.dow_mean, 6) AS dow_baseline,
           round((a.r - rm.m)
                 / (CAST('1.4826' AS DOUBLE) * mv.mad), 9) AS robust_z,
           ABS((a.r - rm.m) / (CAST('1.4826' AS DOUBLE) * mv.mad)) > 2.5
               AS is_anomaly
    FROM absr a CROSS JOIN rmed rm CROSS JOIN madv mv
    ORDER BY a.day
    """,
    tags=("dq", "monitoring"),
    uwin=(
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
        'day-grained daily series (<= timeline days)',
    ),
)
def dq_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly alerting: daily totals are compared
    against their WEEKDAY baseline (a Monday is judged against
    Mondays), and the residuals are flagged by the robust z-score
    (median/MAD x 1.4826 — outlier-proof, unlike the mean/stddev the
    plain SPC chart uses). The alert shape every volumetric monitor
    converges on: seasonal baseline first, robust dispersion second.
    One daily rollup is the only corpus work; the baseline join,
    median ranks and MAD all run on the day-grained table."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total"))
    daily = pin(daily)  # baseline + residuals (scan-leaf lint)
    baseline = daily.groupBy("dow").agg(
        (
            F.sum(F.col("total").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("dow_mean")
    )
    resid = daily.join(F.broadcast(baseline), "dow").select(
        "day", "total", "dow_mean", (F.col("total") - F.col("dow_mean")).alias("r")
    )

    def _median(df: DataFrame, col: str) -> DataFrame:
        wr = Window.orderBy(col)
        wn = Window.partitionBy()
        ranked = df.select(
            F.col(col),
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        lo = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
        hi = F.floor((F.col("n") + 2) / 2.0).cast("bigint")
        is_mid = (F.col("rn") == lo) | (F.col("rn") == hi)
        return ranked.agg(
            (
                F.sum(F.when(is_mid, F.col(col)).otherwise(0.0)).cast("double")
                / F.sum(F.when(is_mid, 1).otherwise(0))
            ).alias("m")
        )

    rmed = _median(resid, "r")
    absr = resid.crossJoin(F.broadcast(rmed)).select(
        "day", "total", "dow_mean", "r", F.abs(F.col("r") - F.col("m")).alias("ar"),
        F.col("m").alias("rm"),
    )
    madv = _median(absr.select(F.col("ar").alias("ar")), "ar").select(
        F.col("m").alias("mad")
    )
    k = float("1.4826")
    z = (F.col("r") - F.col("rm")) / (k * F.col("mad"))
    return (
        absr.crossJoin(F.broadcast(madv))
        .select(
            "day",
            F.round("total", 6).alias("total"),
            F.round("dow_mean", 6).alias("dow_baseline"),
            F.round(z, 9).alias("robust_z"),
            (F.abs(z) > 2.5).alias("is_anomaly"),
        )
        .orderBy("day")
    )


@query(
    "dq_drift_cramer_von_mises",
    oracle="""
    WITH tagged AS (
        SELECT CAST(FLOOR(value) AS BIGINT) AS v,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS in_a
        FROM events WHERE event_type IN ('view', 'click')
    ),
    per_v AS (
        SELECT v,
               CAST(SUM(in_a) AS BIGINT) AS ca,
               CAST(SUM(1 - in_a) AS BIGINT) AS cb
        FROM tagged GROUP BY v
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v),
    cum AS (
        SELECT v, ca, cb,
               SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
        FROM per_v
    ),
    terms AS (
        SELECT v, ca, cb, cum_a, cum_b,
               (ca + cb) * POWER(CAST(cum_a * (SELECT nb FROM tot)
                                      - cum_b * (SELECT na FROM tot) AS DOUBLE)
                                 / (CAST((SELECT na FROM tot) AS DOUBLE)
                                    * (SELECT nb FROM tot)), 2) AS t
        FROM cum
    )
    SELECT (SELECT CAST(na AS BIGINT) FROM tot) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM tot) AS n_b,
           CAST(count(*) AS BIGINT) AS n_grid,
           round(CAST((SELECT na FROM tot) AS DOUBLE) * (SELECT nb FROM tot)
                 / POWER(CAST((SELECT na + nb FROM tot) AS DOUBLE), 2)
                 * CAST(SUM(CAST(round(t, 12) AS DECIMAL(38,12))) AS DOUBLE), 9)
               AS cvm_t,
           round(1.0 / 6.0 + 1.0 / (6.0 * (SELECT na + nb FROM tot)), 9)
               AS null_expectation
    FROM terms
    """,
    tags=("dq", "drift", "statistics"),
    uwin=(
        'integer-floor value grid (<= a few hundred support points)',
    ),
)
def dq_drift_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic — the L2 companion
    to dq_drift_ks (KS sees only the worst single CDF gap; CvM
    integrates the SQUARED gap over the whole distribution, so it
    catches broad small shifts KS under-weights). T = (nm/N²)·Σ_x
    w(x)·(F_A(x)−F_B(x))² over the empirical support, with the null
    expectation 1/6 + 1/(6N) reported alongside for calibration.
    Samples: 'view' vs 'click' event values.

    Exactness + scale: values quantize to the integer floor grid (the
    threshold-table lever — the grid is ≤ a few hundred rows, so the
    cumulative windows run on a bounded table, never corpus-wide);
    CDF gaps are exact integer cross-products divided once; per-grid
    terms are identical doubles rounded to 12 and decimal-summed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    tagged = ev.select(
        F.floor("value").cast("bigint").alias("v"),
        (F.col("event_type") == "view").cast("int").alias("in_a"),
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        "v",
        "ca",
        "cb",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
    ).crossJoin(F.broadcast(tot))
    gap = (F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")).cast(
        "double"
    ) / (F.col("na").cast("double") * F.col("nb"))
    terms = cum.select(
        "na",
        "nb",
        ((F.col("ca") + F.col("cb")) * F.pow(gap, 2)).alias("t"),
    )
    return terms.groupBy("na", "nb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grid"),
        F.round(
            F.col("na").cast("double")
            * F.col("nb")
            / F.pow((F.col("na") + F.col("nb")).cast("double"), 2)
            * F.sum(F.round(F.col("t"), 12).cast("decimal(38,12)")).cast("double"),
            9,
        ).alias("cvm_t"),
        F.round(
            F.lit(1.0) / 6.0 + F.lit(1.0) / (6.0 * (F.col("na") + F.col("nb"))), 9
        ).alias("null_expectation"),
    ).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "n_grid",
        "cvm_t",
        "null_expectation",
    )


GRUBBS_FLAG_G = 3.0  # operational screen threshold (fixed, documented)


@query(
    "dq_grubbs_outlier_screen",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mu,
               sqrt((CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                     - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*))
                    / (count(*) - 1)) AS s
        FROM daily
    ),
    g AS (
        SELECT d.day, d.x, m.n, m.mu, m.s,
               round(abs(d.x - m.mu) / m.s, 9) AS g_stat
        FROM daily d CROSS JOIN m
    ),
    ranked AS (
        SELECT day, x, n, mu, s, g_stat,
               ROW_NUMBER() OVER (ORDER BY g_stat DESC, day) AS rn
        FROM g
    )
    SELECT rn, day, round(x, 6) AS daily_total, n AS n_days,
           round(mu, 6) AS mean_daily, round(s, 6) AS stddev_daily,
           g_stat,
           g_stat > {GRUBBS_FLAG_G!r} AS flagged
    FROM ranked WHERE rn <= 3
    ORDER BY rn
    """,
    tags=("dq", "statistics", "outliers"),
)
def dq_grubbs_outlier_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style maximum-studentized-deviation screen over the daily
    revenue series: G(day) = |x − x̄|/s, reporting the top-3 suspect
    days and a fixed operational flag (G > 3.0 — the exact Grubbs
    critical value needs a t-quantile in N, which an alerting screen
    replaces with a conservative constant; the MAD variant for
    heavy-tailed series is events_mad_outliers).

    Exactness: daily totals and the corpus moments run through exact
    decimals (x² snapped to 6 dp before squaring-sum, the r6
    cast-scale rule); G is the same double expression both sides,
    quantized to 9 before ranking with a day tie-break. One corpus
    groupBy; everything after runs on the day-grained table."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("x")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)")).cast("double")
                - F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
                * F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("s"),
    )
    g = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "x",
        "n",
        "mu",
        "s",
        F.round(F.abs(F.col("x") - F.col("mu")) / F.col("s"), 9).alias("g_stat"),
    )
    w = Window.orderBy(F.col("g_stat").desc(), "day")
    return (
        g.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "rn",
            "day",
            F.round("x", 6).alias("daily_total"),
            F.col("n").alias("n_days"),
            F.round("mu", 6).alias("mean_daily"),
            F.round("s", 6).alias("stddev_daily"),
            "g_stat",
            (F.col("g_stat") > GRUBBS_FLAG_G).alias("flagged"),
        )
        .orderBy("rn")
    )


@query(
    "dq_t_closeness",
    oracle="""
    WITH rows_ AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 2000) AS BIGINT) AS band
        FROM customer
    ),
    bands AS (SELECT DISTINCT band FROM rows_),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bands FROM bands),
    gl AS (
        SELECT band, CAST(count(*) AS BIGINT) AS g FROM rows_ GROUP BY band
    ),
    ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_),
    classes AS (
        SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_c
        FROM rows_ GROUP BY 1, 2
    ),
    cell AS (
        SELECT c_nationkey, c_mktsegment, band, CAST(count(*) AS BIGINT) AS c
        FROM rows_ GROUP BY 1, 2, 3
    ),
    grid AS (
        SELECT cl.c_nationkey, cl.c_mktsegment, cl.n_c, b.band,
               COALESCE(ce.c, 0) AS c, g.g
        FROM classes cl CROSS JOIN bands b
        JOIN gl g ON g.band = b.band
        LEFT JOIN cell ce ON ce.c_nationkey = cl.c_nationkey
          AND ce.c_mktsegment = cl.c_mktsegment AND ce.band = b.band
    ),
    cumdiff AS (
        SELECT c_nationkey, c_mktsegment, n_c, band,
               SUM(c * (SELECT n FROM ntot) - g * n_c)
                   OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
                         ROWS UNBOUNDED PRECEDING) AS cum_num
        FROM grid
    ),
    emd AS (
        SELECT c_nationkey, c_mktsegment, n_c,
               round(CAST(SUM(abs(cum_num)) AS DOUBLE)
                     / (((SELECT n_bands FROM nb) - 1)
                        * CAST(n_c AS DOUBLE) * (SELECT n FROM ntot)), 9) AS t
        FROM cumdiff GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT c_nationkey, c_mktsegment, n_c, t,
               ROW_NUMBER() OVER (ORDER BY t DESC, c_nationkey, c_mktsegment) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_classes
        FROM emd
    )
    SELECT rn, c_nationkey, c_mktsegment, n_c, t, n_classes
    FROM ranked WHERE rn <= 5
    ORDER BY rn
    """,
    tags=("dq", "privacy"),
    uwin=(
        'quasi-identifier class table (nation x band grid)',
    ),
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    distributional member of the k-anonymity / l-diversity family: a
    class can be k-anonymous AND l-diverse yet still leak if its
    sensitive-attribute distribution diverges from the global one.
    For the ordinal sensitive attribute (account-balance band), t =
    EMD(class, global) = Σ_b |cum(p−q)| / (B−1); the five worst
    classes and the class count are reported.

    Exactness: every cumulative term is the integer cross-product
    c·N − g·n_c (never a float fraction), divided exactly once; t is
    quantized to 9 before ranking with class tie-breaks. Scale: the
    grid is classes × bands (QI-cardinality-sized); cumulative windows
    partition per class over ≤B rows; the only corpus passes are the
    two grouped counts."""
    c = load_table(spark, sf_dir, "customer")
    rows_ = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("band"),
    )
    rows_ = pin(rows_)  # 5 consumers (scan-leaf lint)
    bands = rows_.select("band").distinct()
    nb = bands.agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    gl = rows_.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("g"))
    ntot = rows_.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    classes = rows_.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c")
    )
    cell = rows_.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = (
        classes.crossJoin(F.broadcast(bands))
        .join(F.broadcast(gl), "band")
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .crossJoin(F.broadcast(ntot))
        .crossJoin(F.broadcast(nb))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_c",
            "band",
            F.coalesce("c", F.lit(0)).alias("c"),
            "g",
            "n",
            "n_bands",
        )
    )
    wcum = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("band").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumdiff = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "n_c",
        "n",
        "n_bands",
        F.sum(F.col("c") * F.col("n") - F.col("g") * F.col("n_c")).over(wcum).alias("cum_num"),
    )
    emd = cumdiff.groupBy("c_nationkey", "c_mktsegment", "n_c", "n", "n_bands").agg(
        F.round(
            F.sum(F.abs("cum_num")).cast("double")
            / ((F.col("n_bands") - 1) * F.col("n_c").cast("double") * F.col("n")),
            9,
        ).alias("t")
    )
    w = Window.orderBy(F.col("t").desc(), "c_nationkey", "c_mktsegment")
    return (
        emd.select(
            "c_nationkey",
            "c_mktsegment",
            "n_c",
            "t",
            F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n_classes"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("rn", "c_nationkey", "c_mktsegment", "n_c", "t", "n_classes")
        .orderBy("rn")
    )


FDR_Q = 0.10  # Benjamini-Hochberg false-discovery budget
# Abramowitz & Stegun 26.2.17 normal-CDF tail constants, string-cast so
# both engines parse bit-identical doubles (bare literals parse DECIMAL)
_AS_B = ["0.319381530", "-0.356563782", "1.781477937", "-1.821255978", "1.330274429"]
_AS_P = "0.2316419"
_INV_SQRT_2PI = "0.3989422804014327"


def _phi_tail_sql(z: str) -> str:
    """Two-sided normal p-value 2·(1−Φ(|z|)) as identical SQL text."""
    t = f"(1.0 / (1.0 + CAST('{_AS_P}' AS DOUBLE) * abs({z})))"
    poly = (
        f"({t} * (CAST('{_AS_B[0]}' AS DOUBLE) + {t} * (CAST('{_AS_B[1]}' AS DOUBLE) "
        f"+ {t} * (CAST('{_AS_B[2]}' AS DOUBLE) + {t} * (CAST('{_AS_B[3]}' AS DOUBLE) "
        f"+ {t} * CAST('{_AS_B[4]}' AS DOUBLE))))))"
    )
    return (
        f"(2.0 * CAST('{_INV_SQRT_2PI}' AS DOUBLE) "
        f"* exp(-0.5 * {z} * {z}) * {poly})"
    )


@query(
    "dq_fdr_bh_correction",
    oracle=f"""
    WITH nat AS (
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM customer GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_all, CAST(SUM(x) AS BIGINT) AS x_all
        FROM nat
    ),
    z AS (
        SELECT c_nationkey, n, x,
               (CAST(x AS DOUBLE) / n
                - CAST((SELECT x_all FROM tot) - x AS DOUBLE)
                  / ((SELECT n_all FROM tot) - n))
               / sqrt(CAST((SELECT x_all FROM tot) AS DOUBLE)
                      / (SELECT n_all FROM tot)
                      * (1.0 - CAST((SELECT x_all FROM tot) AS DOUBLE)
                               / (SELECT n_all FROM tot))
                      * (1.0 / n + 1.0 / ((SELECT n_all FROM tot) - n))) AS zstat
        FROM nat
    ),
    zq AS (
        SELECT c_nationkey, n, x, round(zstat, 9) AS zr FROM z
    ),
    pv AS (
        SELECT c_nationkey, n, x, zr AS zstat,
               round({_phi_tail_sql('zr')}, 12) AS p
        FROM zq
    ),
    ranked AS (
        SELECT c_nationkey, n, x, zstat, p,
               ROW_NUMBER() OVER (ORDER BY p, c_nationkey) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    ),
    cut AS (
        SELECT *,
               MAX(CASE WHEN p <= rn * {FDR_Q!r} / m THEN rn END) OVER () AS k_max
        FROM ranked
    )
    SELECT rn, c_nationkey, n, x, zstat, p,
           round(rn * {FDR_Q!r} / m, 12) AS bh_threshold,
           COALESCE(rn <= k_max, FALSE) AS rejected
    FROM cut
    ORDER BY rn
    """,
    tags=("dq", "statistics", "abtest"),
    uwin=(
        'nation-grained p-value table (25 rows)',
        'nation-grained p-value table (25 rows)',
        'nation-grained p-value table (25 rows)',
    ),
)
def dq_fdr_bh_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a FAMILY of hypothesis
    tests — the missing piece once dq_ab_test_ztest runs per segment:
    25 per-nation two-proportion z-tests (nation delinquency rate vs
    the rest), each converted to a two-sided p-value, then the BH
    step-up rule rejects ranks 1..k* where k* = max{{i: p_(i) ≤ i·q/m}}.
    Without it, 25 tests at α=0.05 expect a false alarm every run.

    Cross-engine Φ: no SQL engine pair shares an erf, so the normal
    tail uses the Abramowitz-Stegun 26.2.17 polynomial with every
    constant string-cast (bit-identical parse), z quantized at 9 and p
    at 12 before the rank — the shared-literal discipline. Scale: one
    grouped count; everything else is a 25-row window."""
    c = load_table(spark, sf_dir, "customer")
    nat = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("c_acctbal") < 0).cast("int")).cast("bigint").alias("x"),
    )
    tot = nat.agg(
        F.sum("n").cast("bigint").alias("n_all"), F.sum("x").cast("bigint").alias("x_all")
    )
    j = nat.crossJoin(F.broadcast(tot))
    p_hat = F.col("x_all").cast("double") / F.col("n_all")
    zstat = (
        F.col("x").cast("double") / F.col("n")
        - (F.col("x_all") - F.col("x")).cast("double") / (F.col("n_all") - F.col("n"))
    ) / F.sqrt(
        p_hat
        * (F.lit(1.0) - p_hat)
        * (F.lit(1.0) / F.col("n") + F.lit(1.0) / (F.col("n_all") - F.col("n")))
    )
    pv = j.select(
        "c_nationkey",
        "n",
        "x",
        F.round(zstat, 9).alias("zstat"),
    ).withColumn("p", F.round(F.expr(_phi_tail_sql("zstat")), 12))
    w = Window.orderBy("p", "c_nationkey")
    ranked = pv.select(
        "c_nationkey",
        "n",
        "x",
        "zstat",
        "p",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    wall = Window.partitionBy()
    cut = ranked.withColumn(
        "k_max",
        F.max(
            F.when(F.col("p") <= F.col("rn") * FDR_Q / F.col("m"), F.col("rn"))
        ).over(wall),
    )
    return cut.select(
        "rn",
        "c_nationkey",
        "n",
        "x",
        "zstat",
        "p",
        F.round(F.col("rn") * FDR_Q / F.col("m"), 12).alias("bh_threshold"),
        F.coalesce(F.col("rn") <= F.col("k_max"), F.lit(False)).alias("rejected"),
    ).orderBy("rn")


ESD_ROUNDS = 3  # generalized ESD: test up to 3 outliers


def _esd_sql() -> str:
    """Chained-CTE oracle: each round removes the current max-|z| day
    and recomputes the moments exactly (decimal sums minus the removed
    value)."""
    head = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    live0 AS (SELECT day, x FROM daily)
    """
    body = ""
    for r in range(1, ESD_ROUNDS + 1):
        body += f""",
    m{r} AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mu,
               sqrt((CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE)
                     - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*))
                    / (count(*) - 1)) AS s
        FROM live{r - 1}
    ),
    top{r} AS (
        SELECT l.day, l.x, m.n,
               round(abs(l.x - m.mu) / m.s, 9) AS r_stat
        FROM live{r - 1} l CROSS JOIN m{r} m
        ORDER BY round(abs(l.x - m.mu) / m.s, 9) DESC, l.day
        LIMIT 1
    ),
    live{r} AS (
        SELECT l.day, l.x FROM live{r - 1} l
        WHERE l.day NOT IN (SELECT day FROM top{r})
    )"""
    tail = (
        "\n    SELECT * FROM ("
        + " UNION ALL ".join(
            f"SELECT {r} AS round, day AS suspect_day, round(x, 6) AS daily_total, "
            f"n AS n_live, r_stat FROM top{r}"
            for r in range(1, ESD_ROUNDS + 1)
        )
        + ") ORDER BY round"
    )
    return head + body + tail


@query(
    "dq_esd_outliers",
    oracle=_esd_sql(),
    tags=("dq", "statistics", "outliers"),
)
def dq_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier detection (Rosner 1983) — the
    MULTI-outlier extension of the Grubbs screen, which a single large
    anomaly can mask: each of the 3 rounds finds the max studentized
    deviation, REMOVES that day, and recomputes mean/std on the
    remainder, so the second and third suspects are judged without the
    first inflating the variance. The oracle unrolls the identical
    3-round walk as chained CTEs.

    Exactness: moments per round through exact decimals (round-6 x²),
    the studentized statistic quantizes at 9 before the argmax with a
    day tie-break, and removal is an anti-join on the chosen day —
    both engines walk the same sequence. Scale: the corpus pass is one
    groupBy to days; rounds run on the day-grained table,
    pin-truncated."""
    ev = load_table(spark, sf_dir, "events")
    live = pin(ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("x")
    ), eager=True)
    outs = []
    for r in range(1, ESD_ROUNDS + 1):
        m = live.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias("mu"),
            F.sqrt(
                (
                    F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)")).cast("double")
                    - F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
                    * F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            ).alias("s"),
        )
        scored = live.crossJoin(F.broadcast(m)).select(
            "day",
            "x",
            "n",
            F.round(F.abs(F.col("x") - F.col("mu")) / F.col("s"), 9).alias("r_stat"),
        )
        top = pin(scored.orderBy(F.col("r_stat").desc(), "day").limit(1), eager=True)
        outs.append(
            top.select(
                F.lit(r).alias("round"),
                F.col("day").alias("suspect_day"),
                F.round("x", 6).alias("daily_total"),
                F.col("n").alias("n_live"),
                "r_stat",
            )
        )
        live = pin(live.join(top.select("day"), "day", "left_anti"), eager=True)
    out = outs[0]
    for s in outs[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


@query(
    "dq_capture_recapture",
    oracle="""
    WITH marked AS (
        SELECT o_orderkey,
               CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10 AS b1,
               CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))
                    AS BIGINT) % 10 AS b2
        FROM orders
    ),
    counts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
               CAST(SUM(CASE WHEN b1 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN b2 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN b1 < 3 AND b2 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS m
        FROM marked
    )
    SELECT n_true, n1, n2, m,
           CAST(floor((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0)
                AS BIGINT) AS chapman_estimate,
           round(abs((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0 - n_true)
                 / n_true, 9) AS relative_error
    FROM counts
    """,
    tags=("dq", "statistics", "sampling"),
)
def dq_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Chapman's
    bias-corrected Lincoln-Petersen: N̂ = (n1+1)(n2+1)/(m+1) − 1) —
    the DQ trick for estimating a TRUE entity count when no single
    source sees everything (how many real customers exist given two
    overlapping CRM extracts; how many dupes remain after a dedup
    pass). Two independent deterministic 30% 'captures' come from
    disjoint md5 hash windows of the key, m is their overlap, and the
    estimate is audited against the known truth.

    Exactness: all counts are integers from one scan; the estimator is
    one shared double expression. The hash windows make the two
    samples independent by construction — the assumption the estimator
    needs, documented instead of hoped for."""
    o = load_table(spark, sf_dir, "orders")
    b1 = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 10
    )
    b2 = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 9, 8), 16, 10)
        .cast("bigint") % 10
    )
    counts = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum((b1 < 3).cast("int")).cast("bigint").alias("n1"),
        F.sum((b2 < 3).cast("int")).cast("bigint").alias("n2"),
        F.sum(((b1 < 3) & (b2 < 3)).cast("int")).cast("bigint").alias("m"),
    )
    est = (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (F.col("m") + 1) - 1.0
    return counts.select(
        "n_true",
        "n1",
        "n2",
        "m",
        F.floor(est).cast("bigint").alias("chapman_estimate"),
        F.round(F.abs(est - F.col("n_true")) / F.col("n_true"), 9).alias(
            "relative_error"
        ),
    )


@query(
    "dq_hbos_outliers",
    oracle="""
    WITH b AS (
        SELECT min(value) AS lo, max(value) AS hi,
               CAST(count(*) AS DOUBLE) AS n
        FROM events
    ),
    f AS (
        SELECT e.event_id,
               CAST(LEAST(CAST(floor((e.value - b.lo) / ((b.hi - b.lo) / 10.0))
                               AS BIGINT), 9) AS BIGINT) AS vbin,
               CAST(hour(e.ts) AS BIGINT) AS hbin
        FROM events e CROSS JOIN b
    ),
    vh AS (SELECT vbin, CAST(count(*) AS DOUBLE) AS c FROM f GROUP BY vbin),
    hh AS (SELECT hbin, CAST(count(*) AS DOUBLE) AS c FROM f GROUP BY hbin),
    vmax AS (SELECT max(c) AS m FROM vh),
    hmax AS (SELECT max(c) AS m FROM hh),
    scored AS (
        SELECT f.event_id,
               round(ln(vmax.m / vh.c) + ln(hmax.m / hh.c), 9) AS hbos_score
        FROM f
        JOIN vh ON f.vbin = vh.vbin
        JOIN hh ON f.hbin = hh.hbin
        CROSS JOIN vmax CROSS JOIN hmax
    )
    SELECT event_id, hbos_score
    FROM scored
    ORDER BY hbos_score DESC, event_id
    LIMIT 10
    """,
    tags=("dq", "anomaly"),
)
def dq_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012):
    per-feature equal-width histograms, score = Σ_f ln(max_bin_f /
    bin_f(x)); a point is anomalous when it sits in sparse bins of
    MULTIPLE independent features. Features here: event value (10
    equal-width bins over the global [min,max]) and hour-of-day (24
    natural bins). Top-10 by score, total-ordered.

    100 TB: two corpus passes — one agg for the global bounds, one for
    bin counts — then the scoring join is against two BROADCAST bin
    tables (10 + 24 rows); the top-10 is a TakeOrderedAndProject, never
    a global sort. Densities are integer counts, the score algebra is
    identical IEEE doubles in both engines, rounded 9 dp for libm-ln
    safety."""
    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    f = e.crossJoin(F.broadcast(b)).select(
        "event_id",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)).cast(
                "bigint"
            ),
            F.lit(9).cast("bigint"),
        ).alias("vbin"),
        F.hour("ts").cast("bigint").alias("hbin"),
    )
    f = pin(f)  # histograms + scoring (scan-leaf lint)
    vh = f.groupBy("vbin").agg(F.count(F.lit(1)).cast("double").alias("vc"))
    hh = f.groupBy("hbin").agg(F.count(F.lit(1)).cast("double").alias("hc"))
    vmax = vh.agg(F.max("vc").alias("vm"))
    hmax = hh.agg(F.max("hc").alias("hm"))
    scored = (
        f.join(F.broadcast(vh), "vbin")
        .join(F.broadcast(hh), "hbin")
        .crossJoin(F.broadcast(vmax))
        .crossJoin(F.broadcast(hmax))
        .select(
            "event_id",
            F.round(
                F.log(F.col("vm") / F.col("vc")) + F.log(F.col("hm") / F.col("hc")), 9
            ).alias("hbos_score"),
        )
    )
    return scored.orderBy(F.desc("hbos_score"), "event_id").limit(10)


@query(
    "dq_vif_multicollinearity",
    oracle="""
    WITH m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s11,
               CAST(SUM(CAST(round(l_extendedprice * l_extendedprice, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(round(l_discount * l_discount, 4) AS DECIMAL(18,4))) AS DOUBLE) AS s33,
               CAST(SUM(CAST(round(l_quantity * l_extendedprice, 2) AS DECIMAL(38,2))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(round(l_quantity * l_discount, 2) AS DECIMAL(18,2))) AS DOUBLE) AS s13,
               CAST(SUM(CAST(round(l_extendedprice * l_discount, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s23
        FROM lineitem
    ),
    r AS (
        SELECT (n * s12 - s1 * s2) / sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)) AS r12,
               (n * s13 - s1 * s3) / sqrt((n * s11 - s1 * s1) * (n * s33 - s3 * s3)) AS r13,
               (n * s23 - s2 * s3) / sqrt((n * s22 - s2 * s2) * (n * s33 - s3 * s3)) AS r23
        FROM m
    ),
    d AS (
        SELECT r12, r13, r23,
               1.0 - r12 * r12 - r13 * r13 - r23 * r23 + 2.0 * r12 * r13 * r23 AS det
        FROM r
    )
    SELECT feature,
           round(vif, 9) AS vif,
           round(1.0 - 1.0 / vif, 9) AS r_squared,
           vif > 5.0 AS collinear
    FROM (
        SELECT 'l_quantity' AS feature, (1.0 - r23 * r23) / det AS vif FROM d
        UNION ALL
        SELECT 'l_extendedprice', (1.0 - r13 * r13) / det FROM d
        UNION ALL
        SELECT 'l_discount', (1.0 - r12 * r12) / det FROM d
    )
    ORDER BY feature
    """,
    tags=("dq", "statistics"),
)
def dq_vif_multicollinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance Inflation Factors for three lineitem predictors
    (quantity, extended price, discount) from the EXACT 3x3 correlation
    matrix: VIF_j = [R^-1]_jj via the closed-form adjugate of a 3x3
    correlation matrix (det = 1 - r12² - r13² - r23² + 2·r12·r13·r23),
    with R²_j = 1 - 1/VIF_j and the usual VIF>5 collinearity flag.

    Moments are exact decimals (quantity is integer; price/discount are
    2-dp money, so squares/cross-products are 4-dp exact); the
    correlation and inverse algebra runs on identical IEEE doubles in
    both engines. 100 TB: ONE map-side-combined aggregate over the
    corpus (10 sums), then 1-row algebra — the same sufficient-
    statistics shape as the ridge/regression-family operators."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    p = F.col("l_extendedprice")
    dc = F.col("l_discount")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(p.cast("decimal(28,2)")).cast("double").alias("s2"),
        F.sum(dc.cast("decimal(18,2)")).cast("double").alias("s3"),
        F.sum(q * q).cast("double").alias("s11"),
        F.sum(F.round(p * p, 4).cast("decimal(38,4)")).cast("double").alias("s22"),
        F.sum(F.round(dc * dc, 4).cast("decimal(18,4)")).cast("double").alias("s33"),
        F.sum(F.round(q * p, 2).cast("decimal(38,2)")).cast("double").alias("s12"),
        F.sum(F.round(q * dc, 2).cast("decimal(18,2)")).cast("double").alias("s13"),
        F.sum(F.round(p * dc, 4).cast("decimal(38,4)")).cast("double").alias("s23"),
    )
    n, s1, s2, s3 = (F.col(c) for c in ("n", "s1", "s2", "s3"))
    s11, s22, s33 = (F.col(c) for c in ("s11", "s22", "s33"))
    s12, s13, s23 = (F.col(c) for c in ("s12", "s13", "s23"))
    r = m.select(
        ((n * s12 - s1 * s2) / F.sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2))).alias("r12"),
        ((n * s13 - s1 * s3) / F.sqrt((n * s11 - s1 * s1) * (n * s33 - s3 * s3))).alias("r13"),
        ((n * s23 - s2 * s3) / F.sqrt((n * s22 - s2 * s2) * (n * s33 - s3 * s3))).alias("r23"),
    ).select(
        "r12",
        "r13",
        "r23",
        (
            F.lit(1.0)
            - F.col("r12") * F.col("r12")
            - F.col("r13") * F.col("r13")
            - F.col("r23") * F.col("r23")
            + F.lit(2.0) * F.col("r12") * F.col("r13") * F.col("r23")
        ).alias("det"),
    )
    r = pin(r)  # one 1-row stats table, 3 VIF rows (scan-leaf lint)
    rows = []
    for feat, expr in (
        ("l_quantity", (F.lit(1.0) - F.col("r23") * F.col("r23")) / F.col("det")),
        ("l_extendedprice", (F.lit(1.0) - F.col("r13") * F.col("r13")) / F.col("det")),
        ("l_discount", (F.lit(1.0) - F.col("r12") * F.col("r12")) / F.col("det")),
    ):
        rows.append(
            r.select(
                F.lit(feat).alias("feature"),
                F.round(expr, 9).alias("vif"),
                F.round(F.lit(1.0) - F.lit(1.0) / expr, 9).alias("r_squared"),
                (expr > 5.0).alias("collinear"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out.orderBy("feature")


@query(
    "dq_data_vault_keys",
    oracle="""
    WITH hub_customer AS (
        SELECT DISTINCT upper(md5(concat('CUST|', CAST(o_custkey AS VARCHAR)))) AS hk,
               o_custkey AS bk
        FROM orders
    ),
    hub_order AS (
        SELECT upper(md5(concat('ORD|', CAST(o_orderkey AS VARCHAR)))) AS hk,
               o_orderkey AS bk
        FROM orders
    ),
    link AS (
        SELECT upper(md5(concat('CUST|', CAST(o_custkey AS VARCHAR),
                                '||ORD|', CAST(o_orderkey AS VARCHAR)))) AS lk
        FROM orders
    ),
    sat AS (
        SELECT upper(md5(concat('ORD|', CAST(o_orderkey AS VARCHAR)))) AS hk,
               upper(md5(concat(o_orderstatus, '|', CAST(o_totalprice AS VARCHAR),
                                '|', o_orderpriority))) AS hashdiff
        FROM orders
    )
    SELECT 'hub_customer' AS entity,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT hk) AS BIGINT) AS n_distinct_keys,
           MIN(hk) AS sample_key
    FROM hub_customer
    UNION ALL
    SELECT 'hub_order', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT hk) AS BIGINT), MIN(hk) FROM hub_order
    UNION ALL
    SELECT 'link_customer_order', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT lk) AS BIGINT), MIN(lk) FROM link
    UNION ALL
    SELECT 'sat_order_hashdiff', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT hashdiff) AS BIGINT), MIN(hashdiff) FROM sat
    ORDER BY entity
    """,
    tags=("dq", "warehouse-modeling"),
)
def dq_data_vault_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault 2.0 staging-layer key generation (Linstedt): hub hash
    keys = md5 over the delimited business key with an entity prefix,
    link hash keys over the concatenated parent keys, and satellite
    HASHDIFFs over the descriptive attributes (the change-detection
    column that lets satellite loads skip unchanged rows with one
    equality compare). The audit reports row/distinct-key counts per
    entity — hub keys must be unique, the hashdiff cardinality bounds
    satellite churn.

    100 TB: hash-key generation is embarrassingly parallel column math
    (no shuffle at all until the distinct-count audit, which is one
    aggregate per entity); that parallelism is exactly WHY DV2.0
    replaced sequence-number surrogate keys with hashes. md5 is the
    cross-engine hash; delimiters guard against concat ambiguity, the
    DV hard-won lesson encoded here as the '|' convention."""
    o = load_table(spark, sf_dir, "orders")

    def hk(*parts) -> F.Column:
        return F.upper(F.md5(F.concat(*parts)))

    ck = F.col("o_custkey").cast("string")
    ok = F.col("o_orderkey").cast("string")
    o = pin(o.select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    ))  # hub/link/sat builders (scan-leaf lint)
    hub_c = o.select(hk(F.lit("CUST|"), ck).alias("k")).distinct()
    hub_o = o.select(hk(F.lit("ORD|"), ok).alias("k"))
    link = o.select(hk(F.lit("CUST|"), ck, F.lit("||ORD|"), ok).alias("k"))
    sat = o.select(
        hk(
            F.col("o_orderstatus"),
            F.lit("|"),
            F.col("o_totalprice").cast("string"),
            F.lit("|"),
            F.col("o_orderpriority"),
        ).alias("k")
    )

    def audit(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("entity"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("k").cast("bigint").alias("n_distinct_keys"),
            F.min("k").alias("sample_key"),
        ).select("entity", "n_rows", "n_distinct_keys", "sample_key")

    return (
        audit("hub_customer", hub_c)
        .unionByName(audit("hub_order", hub_o))
        .unionByName(audit("link_customer_order", link))
        .unionByName(audit("sat_order_hashdiff", sat))
        .orderBy("entity")
    )


# ---------------------------------------------------------------------------
# isolation forest (deterministic, fixed-depth, distributed)
# ---------------------------------------------------------------------------

IF_TREES = 4
IF_DEPTH = 4
IF_TOP = 10
_IF_EULER = 0.5772156649015329



# The driver-side split-table recursion below mirrors how spark.ml's
# tree trainers work: per level, ONE bounded statistics aggregation over
# the full point stream (conditional min/max/count per live (tree, node)
# — at most IF_TREES * 2**depth groups, collected as a single row), then
# the next level's node assignment is compiled into a literal CASE
# expression. No join, no checkpoint, no point-stream replication.
_IF_SQL_SPLIT = """
        SELECT t, node{d0},
               CAST(CAST(concat('0x', substr(md5(concat(CAST(t AS VARCHAR), '|', node{d0}, '|f')), 1, 8)) AS BIGINT) % 2
                    AS INT) AS f,
               (CAST(concat('0x', substr(md5(concat(CAST(t AS VARCHAR), '|', node{d0}, '|u')), 1, 8)) AS BIGINT) % 1000000) / 1000000.0 AS u,
               mn1, mx1, mn2, mx2
        FROM stats{d}
"""

_IF_SQL_LEVEL = """
    stats{d} AS (
        SELECT t, node{d0},
               min(x1) AS mn1, max(x1) AS mx1,
               min(x2) AS mn2, max(x2) AS mx2
        FROM pts{d0} GROUP BY t, node{d0}
    ),
    split{d} AS ({split}
    ),
    pts{d} AS (
        SELECT p.t, p.x1, p.x2, p.k,
               concat(p.node{d0},
                  CASE WHEN (CASE WHEN s.f = 0 THEN p.x1 ELSE p.x2 END)
                        < (CASE WHEN s.f = 0 THEN s.mn1 + s.u * (s.mx1 - s.mn1)
                                ELSE s.mn2 + s.u * (s.mx2 - s.mn2) END)
                       THEN '0' ELSE '1' END) AS node{d}
        FROM pts{d0} p JOIN split{d} s ON p.t = s.t AND p.node{d0} = s.node{d0}
    ),
"""

_IF_SQL_LEVELS = "".join(
    _IF_SQL_LEVEL.format(d=d, d0=d - 1, split=_IF_SQL_SPLIT.format(d=d, d0=d - 1))
    for d in range(1, IF_DEPTH + 1)
)

_IF_ORACLE = f"""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(o_totalprice AS DOUBLE) AS x1,
               CAST(o_orderkey % 1000 AS DOUBLE) AS x2
        FROM orders
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    pts0 AS (
        SELECT t.t, b.x1, b.x2, b.k, 'r' AS node0
        FROM base b CROSS JOIN (SELECT unnest(range(1, {IF_TREES + 1})) AS t) t
    ),
    {_IF_SQL_LEVELS}
    leafsz AS (
        SELECT t, node{IF_DEPTH}, CAST(count(*) AS BIGINT) AS m
        FROM pts{IF_DEPTH} GROUP BY t, node{IF_DEPTH}
    ),
    -- early-isolation credit (Liu et al. 2008): a point whose node
    -- became a singleton at depth d stops there with path = d; prefix
    -- population at depth d is the sum of leaf sizes sharing the first
    -- d split bits (a window over the <= trees * 2^depth leaf table)
    pfx AS (
        SELECT t, node{IF_DEPTH}, m,
               SUM(m) OVER (PARTITION BY t, substr(node{IF_DEPTH}, 1, 2)) AS c1,
               SUM(m) OVER (PARTITION BY t, substr(node{IF_DEPTH}, 1, 3)) AS c2,
               SUM(m) OVER (PARTITION BY t, substr(node{IF_DEPTH}, 1, 4)) AS c3
        FROM leafsz
    ),
    leafpath AS (
        SELECT t, node{IF_DEPTH},
               round(CASE WHEN c1 = 1 THEN 1.0
                          WHEN c2 = 1 THEN 2.0
                          WHEN c3 = 1 THEN 3.0
                          WHEN m = 1 THEN {IF_DEPTH}.0
                          WHEN m = 2 THEN {IF_DEPTH} + 1.0
                          ELSE {IF_DEPTH}
                               + 2.0 * (ln(m - 1.0) + 0.5772156649015329)
                               - 2.0 * (m - 1.0) / m END, 9) AS path
        FROM pfx
    ),
    paths AS (
        SELECT p.k, l.path
        FROM pts{IF_DEPTH} p JOIN leafpath l
          ON p.t = l.t AND p.node{IF_DEPTH} = l.node{IF_DEPTH}
    ),
    avgp AS (
        SELECT k,
               CAST(SUM(CAST(path AS DECIMAL(38,12))) AS DOUBLE) / {IF_TREES}
                   AS mean_path
        FROM paths GROUP BY k
    ),
    scored AS (
        SELECT a.k, a.mean_path,
               power(2.0, -a.mean_path /
                   (2.0 * (ln(nn.n - 1.0) + 0.5772156649015329)
                    - 2.0 * (nn.n - 1.0) / nn.n)) AS score
        FROM avgp a CROSS JOIN n nn
    )
    SELECT k AS orderkey, round(mean_path, 6) AS mean_path,
           round(score, 9) AS anomaly_score
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY round(score, 9) DESC, k) AS rk
        FROM scored
    ) WHERE rk <= {IF_TOP}
    ORDER BY anomaly_score DESC, orderkey
"""


@query(
    "dq_isolation_forest",
    oracle=_IF_ORACLE,
    tags=("dq", "anomaly", "iterative"),
    bench=True,
)
def dq_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation forest anomaly scoring (Liu et al. 2008), expressed as
    a DETERMINISTIC distributed plan: IF_TREES x depth-IF_DEPTH fixed
    unrolling, split feature and threshold drawn from md5-seeded
    uniforms over each node's ACTUAL (min, max) range — the true
    iForest recursion, replayable bit-for-bit in both engines. Early
    isolation earns its credit: a point whose node becomes a singleton
    at depth d scores path = d (the paper's h(x) with c(1) = 0), not
    the fixed-depth floor; non-singleton leaves score
    IF_DEPTH + c(m) as usual.

    Scale shape (the spark.ml tree-trainer pattern): the per-level
    split statistics are ONE global aggregate of conditional
    min/max/count expressions per live (tree, node) — at most
    IF_TREES * 2^depth groups, i.e. a SINGLE collected row per level,
    never per-point driver state. The next level's node assignment
    compiles those collected stats into a literal CASE chain, so the
    point stream is consumed by pure narrow projections. r14 (VERDICT
    r13 task 4): the 3-column point frame is pinned once — the
    spark.ml trainer's input cache; the recursion is inherently
    multi-pass and data-dependent sequential (each level's thresholds
    need the previous level's collected stats, so the pass count
    cannot drop below IF_DEPTH + 2 without changing what the query
    computes), but every pass after the first now reads cached blocks
    instead of re-reading parquet (A/B: 4.00 -> 3.39 s).

    Determinism: split stats (min/max/count) collect as exact doubles /
    longs; f and u re-derive from md5 in Python exactly as the oracle's
    SQL md5 (same first-8-hex-digits % trick); thresholds
    mn + u * (mx - mn) are the same IEEE ops on the same doubles in
    Python, Spark literals, and DuckDB; c(m) and the final score stay
    ENGINE-side (both engines' ln over identical integer m), matching
    the established cross-engine parity of the per-level unrolled
    oracle."""
    import hashlib

    o = load_table(spark, sf_dir, "orders")
    # r14 (VERDICT r13 task 4, guide §5): the trainer is inherently
    # multi-pass (each level's thresholds depend on the previous
    # level's collected stats), so cache the 3-column projection ONCE —
    # the spark.ml tree-trainer discipline — instead of re-reading the
    # parquet scan on every level pass. The pin is lazy: the first
    # level's collect materializes it.
    base = pin(o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("x1"),
        (F.col("o_orderkey") % 1000).cast("double").alias("x2"),
    ))

    def md5mod(s: str, mod: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod

    def nv_str(nid: int) -> str:
        """Heap-index node id -> the oracle's bit-string label
        (1 -> 'r', 2 -> 'r0', 3 -> 'r1', 4 -> 'r00', ...)."""
        return "r" + bin(nid)[3:]

    trees = range(1, IF_TREES + 1)
    # splits[(t, nid)] = (feature_bit, literal threshold); populated one
    # level at a time from the collected bounded stats table
    splits: dict[tuple[int, int], tuple[int, float]] = {}
    counts: dict[tuple[int, int], int] = {}

    def _dbl(v: float) -> str:
        """Exact double literal: repr() round-trips the IEEE value and
        a string CAST re-parses it to the identical bits JVM-side."""
        return f"CAST('{v!r}' AS DOUBLE)"

    def node_sql(t: int, depth: int) -> str:
        """Flat decision expression AS ONE SQL STRING: each row walks
        exactly `depth` double-vs-literal comparisons to its integer
        node id. Built as text and parsed once — constructing the same
        tree from nested F.when objects cost ~2s of py4j round trips
        per run (the r9 build-time hotspot), dwarfing the actual
        cluster work."""

        def rec(nid: int, remaining: int) -> str:
            if remaining == 0 or (t, nid) not in splits:
                return str(nid)
            f_bit, thr = splits[(t, nid)]
            xcol = "x1" if f_bit == 0 else "x2"
            return (
                f"IF({xcol} < {_dbl(thr)}, "
                f"{rec(2 * nid, remaining - 1)}, {rec(2 * nid + 1, remaining - 1)})"
            )

        return rec(1, depth)

    def node_at(t: int, depth: int):
        return F.expr(node_sql(t, depth))

    def tree_node_stats(depth: int):
        """ONE scan-and-aggregate pass: per-row node ids for all trees
        at `depth`, exploded to (t, node) and reduced to at most
        IF_TREES * 2^depth groups (map-side combined). inline() of one
        literal struct array keeps the whole explode a single parsed
        expression."""
        structs = ", ".join(
            f"struct({t} AS t, {node_sql(t, depth)} AS node)" for t in trees
        )
        ex = base.select(
            "x1", "x2", F.expr(f"inline(array({structs}))")
        )
        return ex.groupBy("t", "node").agg(
            F.min("x1").alias("mn1"),
            F.max("x1").alias("mx1"),
            F.min("x2").alias("mn2"),
            F.max("x2").alias("mx2"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )

    n_total = 0
    for d in range(1, IF_DEPTH + 1):
        stats = {(r["t"], r["node"]): r for r in tree_node_stats(d - 1).collect()}
        if d == 1:
            n_total = int(stats[(1, 1)]["c"])
        for (t, nid), r in stats.items():
            counts[(t, nid)] = int(r["c"])
            nv = nv_str(nid)
            f_bit = md5mod(f"{t}|{nv}|f", 2)
            u = md5mod(f"{t}|{nv}|u", 1_000_000) / 1_000_000.0
            mn, mx = (r["mn1"], r["mx1"]) if f_bit == 0 else (r["mn2"], r["mx2"])
            splits[(t, nid)] = (f_bit, mn + u * (mx - mn))
    # leaf populations: one final bounded stats pass at full depth —
    # this collect stays a driver round trip DELIBERATELY (r14 A/B:
    # replacing the literal leaf-size maps with an engine-side
    # broadcast map column + element_at lookups ran 3.4 -> 9.3 s; the
    # per-row map-column probe is far more expensive than a
    # codegen-folded literal map, so the VERDICT task-4 "fold the
    # leaf pass into the final action" idea is measured and REJECTED).
    # With the pinned base it reads cached blocks, not parquet.
    leafsz: dict[tuple[int, int], int] = {}
    for r in tree_node_stats(IF_DEPTH).collect():
        leafsz[(r["t"], r["node"])] = int(r["c"])
    # early-isolation depth per leaf from the driver-held count tables:
    # counts[(t, ancestor)] is the node population at each depth, and
    # ancestor ids are just right-shifts of the leaf id
    iso: dict[tuple[int, int], int] = {}
    for (t, nid), m in leafsz.items():
        for dd in range(1, IF_DEPTH):
            if counts[(t, nid >> (IF_DEPTH - dd))] == 1:
                iso[(t, nid)] = dd
                break
        else:
            if m == 1:
                iso[(t, nid)] = IF_DEPTH
    # literal per-tree lookup maps (<= 2^IF_DEPTH entries each): leaf
    # size and isolation depth keyed by leaf id; c(m) and the score stay
    # engine-side for ln parity with the oracle
    m_maps = {
        t: F.expr(
            "map("
            + ", ".join(
                f"{nid}, {m}" for (tt, nid), m in leafsz.items() if tt == t
            )
            + ")"
        )
        for t in trees
    }
    iso_maps = {}
    for t in trees:
        pairs = [f"{nid}, {dd}" for (tt, nid), dd in iso.items() if tt == t]
        iso_maps[t] = F.expr("map(" + ", ".join(pairs) + ")") if pairs else None

    def tree_path(t: int):
        leaf = F.col(f"leaf{t}")
        m = F.element_at(m_maps[t], leaf).cast("double")
        cpath = F.when(m == 2.0, F.lit(1.0)).otherwise(
            2.0 * (F.log(m - 1.0) + F.lit(_IF_EULER)) - 2.0 * (m - 1.0) / m
        )
        full = F.lit(float(IF_DEPTH)) + cpath
        if iso_maps[t] is not None:
            iso_d = F.element_at(iso_maps[t], leaf)
            full = F.when(iso_d.isNotNull(), iso_d.cast("double")).otherwise(full)
        return F.round(full, 9)

    # the scoring pass is the only compute-dense one (map lookups +
    # ln/pow per row); when the scan parallelism is below the cluster's
    # (a single local parquet split), spread it with one cheap shuffle —
    # on a many-split (100 TB) scan this branch never fires
    par = spark.sparkContext.defaultParallelism
    fin = base.repartition(par) if base.rdd.getNumPartitions() < par else base
    leaves = fin.select(
        "k", *[node_at(t, IF_DEPTH).alias(f"leaf{t}") for t in trees]
    )
    path_cols = [tree_path(t) for t in trees]
    mean_path = (
        sum(
            (p.cast("decimal(38,12)") for p in path_cols[1:]),
            path_cols[0].cast("decimal(38,12)"),
        ).cast("double")
        / IF_TREES
    )
    c_n = (
        2.0 * (F.log(F.lit(float(n_total)) - 1.0) + F.lit(_IF_EULER))
        - 2.0 * (F.lit(float(n_total)) - 1.0) / F.lit(float(n_total))
    )
    scored = leaves.select("k", mean_path.alias("mean_path")).select(
        "k",
        "mean_path",
        F.pow(F.lit(2.0), -F.col("mean_path") / c_n).alias("score"),
    )
    # global top-k compiles to TakeOrderedAndProject (per-partition
    # heaps) — never a single-partition window
    return (
        scored.orderBy(F.round(F.col("score"), 9).desc(), "k")
        .limit(IF_TOP)
        .select(
            F.col("k").alias("orderkey"),
            F.round("mean_path", 6).alias("mean_path"),
            F.round("score", 9).alias("anomaly_score"),
        )
        .orderBy(F.desc("anomaly_score"), "orderkey")
    )


@query(
    "dq_drift_wasserstein",
    oracle=f"""
    WITH tagged AS (
        SELECT l_extendedprice AS v,
               CASE WHEN l_shipdate < DATE '{KS_SPLIT_DATE}' THEN 1 ELSE 0 END AS in_a
        FROM lineitem
    ),
    per_v AS (
        SELECT v,
               CAST(SUM(in_a) AS BIGINT) AS ca,
               CAST(SUM(1 - in_a) AS BIGINT) AS cb
        FROM tagged GROUP BY v
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v),
    cum AS (
        SELECT v,
               SUM(ca) OVER w AS cum_a,
               SUM(cb) OVER w AS cum_b,
               lead(v) OVER (ORDER BY v) AS next_v
        FROM per_v
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    )
    SELECT (SELECT CAST(na AS BIGINT) FROM tot) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM tot) AS n_b,
           round(CAST(SUM(CAST(abs(cum_a * (SELECT nb FROM tot)
                                   - cum_b * (SELECT na FROM tot))
                               * (next_v - v) AS DECIMAL(38,12)))
                      AS DOUBLE)
                 / CAST((SELECT na * nb FROM tot) AS DOUBLE), 9) AS w1
    FROM cum WHERE next_v IS NOT NULL
    """,
    tags=("dq", "drift"),
)
def dq_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Wasserstein-1 (earth mover's) distance — the
    drift statistic that weighs HOW FAR mass moved, completing the
    registry's drift family (PSI bins, KS max-gap, Cramér-von Mises
    mean-square gap): W1 = ∫|F_A − F_B| dx, evaluated exactly as
    Σ over consecutive distinct values of |F_A(v) − F_B(v)|·(next−v).

    Same distributed construction as dq_drift_ks: per-value counts,
    ONE range-partitioned prefix pass for both running CDFs (never a
    single-partition window), with the successor value obtained from
    the partition-local lead plus each partition's first value
    broadcast to its predecessor — O(partitions) boundary metadata,
    zero extra shuffles. The CDF gap stays integer-scaled
    (|cumA·nB − cumB·nA|), each term is decimal-cast before the sum so
    partition order cannot move the double, and the division by nA·nB
    happens once at the end. The final distinct value's term is
    dropped EXACTLY (both CDFs are 1 there, the gap is 0).

    Samples: lineitem prices shipped before vs after
    {KS_SPLIT_DATE}."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_shipdate") < F.lit(KS_SPLIT_DATE).cast("date"))
        .cast("int")
        .alias("in_a"),
    )
    per_v = li.groupBy("v").agg(
        F.sum("in_a").cast("decimal(20,0)").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("decimal(20,0)").alias("cb"),
    )
    par = spark.sparkContext.defaultParallelism
    ranged = pin(
        per_v.repartitionByRange(par, "v")
        .withColumn("_pid", F.spark_partition_id()),
        eager=True,
    )
    wloc = Window.partitionBy("_pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wlead = Window.partitionBy("_pid").orderBy("v")
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum("ca").alias("_ta"), F.sum("cb").alias("_tb"))
        .select(
            "_pid",
            F.coalesce(F.sum("_ta").over(woff), F.lit(0)).alias("_oa"),
            F.coalesce(F.sum("_tb").over(woff), F.lit(0)).alias("_ob"),
        )
    )
    # each partition's FIRST value, shifted to its PREDECESSOR AMONG THE
    # PRESENT pids: the lead() of a partition's last row lives in the
    # next non-empty partition. A bare _pid - 1 shift silently drops a
    # boundary term whenever repartitionByRange leaves an empty
    # partition between two non-empty ones (ADVICE r10) — lag() over
    # the O(partitions) firsts table is gap-robust for free.
    firsts = (
        ranged.groupBy("_pid")
        .agg(F.min("v").alias("_next_first"))
        .select(
            F.lag("_pid").over(Window.orderBy("_pid")).alias("_pid"),
            "_next_first",
        )
        .filter(F.col("_pid").isNotNull())
    )
    cum = (
        ranged.withColumn("_la", F.sum("ca").over(wloc))
        .withColumn("_lb", F.sum("cb").over(wloc))
        .withColumn("_lead", F.lead("v").over(wlead))
        .join(F.broadcast(offsets), "_pid")
        .join(F.broadcast(firsts), "_pid", "left")
        .select(
            "v",
            (F.col("_la") + F.col("_oa")).alias("cum_a"),
            (F.col("_lb") + F.col("_ob")).alias("cum_b"),
            F.coalesce("_lead", "_next_first").alias("next_v"),
        )
    )
    tot = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    term = (
        F.abs(
            F.col("cum_a").cast("bigint") * F.col("nb")
            - F.col("cum_b").cast("bigint") * F.col("na")
        )
        * (F.col("next_v") - F.col("v"))
    ).cast("decimal(38,12)")
    return (
        cum.filter(F.col("next_v").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.sum(term).alias("_s"))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round(
                F.col("_s").cast("double")
                / (F.col("na") * F.col("nb")).cast("double"),
                9,
            ).alias("w1"),
        )
    )
