"""Sink→source round-trip queries (SURVEY.md §2.2 "Sources / sinks").

Each query WRITES through an engine sink into a scratch directory, reads
the result back, and returns it — so the oracle hash-check covers the
full serialize/deserialize cycle (readback-hash semantic from §2.2),
not just the happy path of the reader. CSV and JSON round-trips pin
type fidelity (dates, decimals-as-doubles, unicode); the partitioned
parquet round-trip pins the partition-pruning layout contract.

Scratch discipline (r5): every returned plan is LAZY over a
session-lifetime scratch dir (io/scratch.py, removed at interpreter
exit). The r4 shape — eager localCheckpoint + immediate rmtree — pinned
each read-back in executor storage until driver GC got around to it,
which is both a memory pin at real SF (these queries roundtrip whole
tables) and a storage-hygiene leak on a long-lived session
(tests/test_storage_hygiene_registry.py is the gate). The one
deliberate exception is documented at io_corrupt_records_permissive.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supabase_etl_spark.io.readers import load_table, read_avro, read_csv, read_json
from supabase_etl_spark.io.scratch import register_scratch, scratch_dir
from supabase_etl_spark.io.writers import (
    write_avro,
    write_csv,
    write_json,
    write_parquet,
)
from supabase_etl_spark.pinning import pin
from supabase_etl_spark.queries import query


@query(
    "io_csv_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("io",),
)
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → csv sink (header) → csv scan with explicit schema.
    Proves the reference's CSV sink shape (op L2) both directions."""
    n = load_table(spark, sf_dir, "nation")
    out = scratch_dir("csv_rt_")
    write_csv(n, out)
    back = read_csv(
        spark,
        out,
        schema="n_nationkey int, n_name string, n_regionkey int",
    )
    return back.orderBy("n_nationkey")


@query(
    "io_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM orders
    WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
    tags=("io",),
)
def io_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders slice → json-lines sink → json scan with schema. Dates
    survive as ISO strings and are re-typed on read — the open-schema
    JSON contract of the reference's JSONB records (op T5)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
    )
    out = scratch_dir("json_rt_")
    write_json(o, out)
    back = read_json(
        spark,
        out,
        schema=(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate date"
        ),
    )
    return back.orderBy("o_orderkey")


@query(
    "io_parquet_partitioned",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey <= 2000 AND l_returnflag = 'R'
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("io",),
)
def io_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → parquet partitioned by l_returnflag → scan with
    a partition-key filter. The read touches only the 'R' directory
    (static partition pruning — the layout lever that turns a 100 TB
    scan into a 30 TB one); tests assert the pruned plan."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
    )
    out = scratch_dir("pq_part_")
    write_parquet(li, out, partition_by=["l_returnflag"])
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    return (
        back.select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "io_parquet_clustered",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_shipdate AS DATE) AS ship_date, l_quantity
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-03-01'
      AND CAST(l_shipdate AS DATE) < DATE '1995-04-01'
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("io",),
)
def io_parquet_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → range-repartitioned on ship_date, sorted within
    partitions → parquet → scan with a one-month predicate. The layout
    concentrates each date range into a few files whose row-group
    min/max stats exclude everything else — the clustering lever for
    keys too fine-grained for partition directories (a one-key analog
    of Delta's OPTIMIZE ZORDER). The date filter reaches the scan as a
    pushed filter (pinned by tests/test_plan_shapes.py against
    `io_parquet_clustered_plan`); the scratch layout lives until
    interpreter exit so the returned plan stays lazy."""
    df, out = io_parquet_clustered_plan(spark, sf_dir)
    register_scratch(out)
    return df


def io_parquet_clustered_plan(spark: SparkSession, sf_dir: str):
    """Build the clustered-layout demonstration plan; returns
    (df, scratch_dir). The caller owns the scratch directory and must
    keep it alive until the plan is executed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        "l_quantity",
    )
    out = tempfile.mkdtemp(prefix="pq_clust_")
    (
        li.repartitionByRange(8, "ship_date")
        .sortWithinPartitions("ship_date")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        (F.col("ship_date") >= F.lit("1995-03-01").cast("date"))
        & (F.col("ship_date") < F.lit("1995-04-01").cast("date"))
    )
    return (
        back.select("l_orderkey", "l_linenumber", "ship_date", "l_quantity").orderBy(
            "l_orderkey", "l_linenumber"
        ),
        out,
    )


@query(
    "io_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("io",),
)
def io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → ORC sink → ORC scan. ORC is the second columnar
    format Spark ships natively (predicate pushdown + column pruning
    work the same as parquet); the roundtrip pins type fidelity through
    the ORC writer/reader pair."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = scratch_dir("orc_rt_")
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out).orderBy("s_suppkey")


@query(
    "io_avro_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("io",),
)
def io_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → Avro sink → Avro scan, through the engine's own
    object-container codec (io/avro_codec.py): no spark-avro jar ships
    in this runtime and installs are gated, so the declared Avro cell
    is served by a spec-subset pure-Python implementation with fully
    distributed plumbing — mapInPandas encode per partition on the
    write, binaryFile + mapInPandas decode per file on the read. The
    codec's binary encoding is pinned against hand-computed Avro-spec
    test vectors (tests/test_avro_codec.py), so this roundtrip is not
    merely self-consistent."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = scratch_dir("avro_rt_")
    write_avro(s, out)
    return read_avro(spark, out).orderBy("s_suppkey")


@query(
    "io_parquet_zorder",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
      AND CAST(o_orderdate AS DATE) >= DATE '1995-03-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1995-06-01'
    ORDER BY o_orderkey
    """,
    tags=("io", "layout"),
)
def io_parquet_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering on TWO dimensions: orders laid out
    by the bit-interleave of (o_custkey, days(o_orderdate)), then
    scanned with a predicate on BOTH columns. Interleaving makes each
    file's min/max tight in *both* dimensions simultaneously — the
    one-key sort of io_parquet_clustered can prune only its leading
    key; Z-order is how Delta/Iceberg OPTIMIZE ZORDER keeps 2-D
    selective scans from reading the whole table at 100 TB. The
    z-value is a pure column expression (10 bits per dimension, no
    UDF); both predicates reach the scan as pushed filters (pinned in
    tests/test_plan_shapes.py against `io_parquet_zorder_plan`); the
    scratch layout lives until interpreter exit so the returned plan
    stays lazy."""
    df, out = io_parquet_zorder_plan(spark, sf_dir)
    register_scratch(out)
    return df


def io_parquet_zorder_plan(spark: SparkSession, sf_dir: str):
    """Build the Z-order layout demonstration plan; returns
    (df, scratch_dir). The caller owns the scratch directory and must
    keep it alive until the plan is executed."""
    from functools import reduce

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_totalprice",
    )
    x = F.col("o_custkey").cast("bigint")
    y = F.datediff(F.col("order_date"), F.lit("1992-01-01").cast("date")).cast("bigint")
    zval = reduce(
        lambda acc, i: acc
        + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1),
        range(10),
        F.lit(0).cast("bigint"),
    )
    out = tempfile.mkdtemp(prefix="pq_zorder_")
    (
        o.withColumn("zval", zval)
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("o_custkey").between(100, 199)
        & (F.col("order_date") >= F.lit("1995-03-01").cast("date"))
        & (F.col("order_date") < F.lit("1995-06-01").cast("date"))
    )
    return (
        back.select("o_orderkey", "o_custkey", "order_date", "o_totalprice").orderBy(
            "o_orderkey"
        ),
        out,
    )


@query(
    "io_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("io", "xml"),
)
def io_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → XML sink → XML scan (spark-xml is built into Spark 4;
    no external package). XML is the interchange surface enterprise
    feeds still arrive on; the roundtrip pins element naming
    (rowTag/rootTag) and type inference back to the declared schema.
    Like csv/json, the reader fans out over files — fine at scale for
    many-file feeds; a single giant XML document does not split, which
    is the documented operational caveat."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = scratch_dir("xml_rt_")
    (
        n.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .load(out)
    )
    return back.select("n_nationkey", "n_name", "n_regionkey").orderBy(
        "n_nationkey"
    )


@query(
    "join_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
        SELECT year(o_orderdate) AS yr, count(*) AS n_jumbo
        FROM orders
        WHERE o_totalprice >= 450000
        GROUP BY 1
    )
    SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN dim ON year(l_shipdate) = dim.yr
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("io", "join", "scale"),
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is laid out as
    year-partitioned parquet; the dim side — years that contain at
    least one jumbo order — is a runtime property of the data, so no
    static partition list exists at plan time. Because the dim carries
    a literal selective predicate (o_totalprice >= 450000 — DPP's
    `hasSelectivePredicate` requires a literal comparison; an
    attribute-vs-attribute filter does not qualify), Catalyst inserts a
    dynamicpruning subquery into the fact scan's PartitionFilters and
    reuses the dim's broadcast exchange to evaluate it: whole
    year-directories are skipped before any fact I/O. At 100 TB this is
    the difference between scanning every partition and touching only
    the qualifying ones (pinned by tests/test_plan_shapes.py against
    `dynamic_partition_pruning_plan`); the partitioned scratch layout
    lives until interpreter exit so the returned plan keeps its
    dynamicpruning scan filter live."""
    df, out = dynamic_partition_pruning_plan(spark, sf_dir)
    register_scratch(out)
    return df


def dynamic_partition_pruning_plan(spark: SparkSession, sf_dir: str):
    """Build the DPP demonstration plan; returns (df, scratch_dir).
    The caller owns the scratch directory (the fact table's partitioned
    layout) and must keep it alive until the plan is executed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("ship_year"),
        "l_extendedprice",
        "l_discount",
    )
    out = tempfile.mkdtemp(prefix="pq_dpp_")
    write_parquet(li, out, partition_by=["ship_year"])
    fact = spark.read.parquet(out)

    o = load_table(spark, sf_dir, "orders")
    dim = (
        o.filter(F.col("o_totalprice") >= 450000)
        .select(F.year("o_orderdate").alias("yr"))
        .groupBy("yr")
        .agg(F.count(F.lit(1)).alias("n_jumbo"))
    )

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # dim is explicitly broadcast: DPP's cheap path reuses the broadcast
    # exchange as the pruning subquery (reuseBroadcastOnly default), and
    # at any scale the per-year dim is trivially broadcastable — without
    # the hint a toy-sized *fact* side can win the build-side choice and
    # no partition pruning happens
    df = (
        fact.join(F.broadcast(dim), fact.ship_year == dim.yr)
        .groupBy("ship_year")
        .agg(
            F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.col("ship_year").cast("bigint").alias("ship_year"),
            "revenue",
            "n_lines",
        )
        .orderBy("ship_year")
    )
    return df, out


@query(
    "io_schema_evolution_merge",
    oracle="""
    SELECT o_orderkey,
           o_totalprice,
           CASE WHEN o_orderkey <= 100 THEN NULL ELSE o_orderpriority END
               AS o_orderpriority
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
    tags=("io", "schema"),
)
def io_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an old batch written without a column
    and a new batch written with it live in one dataset;
    ``mergeSchema=true`` unifies the footers and null-fills the old
    files — the additive-column evolution every long-lived lake hits.
    Merge is a driver-side footer union (cheap); the per-file read
    schema is still pruned, so old files never materialize the new
    column. The oracle replays the null-fill rule directly."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    out = scratch_dir("pq_evolve_")
    # old batch: narrow schema
    (
        o.filter(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(f"{out}/batch=old")
    )
    # new batch: adds o_orderpriority
    (
        o.filter(F.col("o_orderkey") > 100)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{out}/batch=new")
    )
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.select("o_orderkey", "o_totalprice", "o_orderpriority").orderBy(
        "o_orderkey"
    )


@query(
    "io_corrupt_records_permissive",
    oracle="""
    SELECT 'corrupt' AS kind, count(*) AS n, 0 AS n_parsed_keys FROM range(7)
    UNION ALL
    SELECT 'valid' AS kind, count(*) AS n, count(*) AS n_parsed_keys
    FROM nation WHERE n_nationkey < 20
    ORDER BY kind
    """,
    tags=("io", "json", "quality"),
)
def io_corrupt_records_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input containment: a JSON feed with planted broken
    lines (7 of them — truncated objects, bare text, wrong bracket)
    reads in PERMISSIVE mode with a ``_corrupt_record`` rescue column
    instead of failing the job — quarantine-and-continue, the only
    viable posture when one bad line in 100 TB must not kill the run.
    The oracle states the expected valid/corrupt split, derivable
    because the input is constructed from the nation table plus a fixed
    corruption list."""
    import json
    import os

    # test-input synthesis, not a data path: the 20-row nation dim is
    # collected only to author the corrupted feed file on local disk
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    rows = [
        json.dumps({"n_nationkey": r["n_nationkey"], "n_name": r["n_name"]})
        for r in n.select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
    ]
    corrupt = [
        '{"n_nationkey": 98',          # truncated object
        "not json at all",             # bare text
        '{"n_nationkey": "}',          # broken string
        '[{"n_nationkey": 99}',        # unclosed array
        '{"n_nationkey":,}',           # missing value
        "{]",                          # wrong bracket
        '{"n_name" "NOPE"}',           # missing colon
    ]
    out = tempfile.mkdtemp(prefix="json_corrupt_")  # removed below
    with open(os.path.join(out, "feed.json"), "w") as f:
        f.write("\n".join(rows + corrupt))

    back = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    kind = F.when(F.col("_corrupt_record").isNotNull(), F.lit("corrupt")).otherwise(
        F.lit("valid")
    )
    # Materialize the parsed feed before aggregating: Spark rejects any
    # plan whose raw-JSON scan references only the internal corrupt
    # column, and downstream pruning (e.g. a count() action) can strip
    # the data-column references back out of a lazy plan. The feed is
    # ≤27 lines BY CONSTRUCTION AT ANY SF (nation keys < 20 + 7 planted
    # corruptions), so this is the one roundtrip query that keeps the
    # eager-checkpoint shape instead of a session-lifetime scratch dir:
    # the pinned block is a few hundred bytes, and laziness here would
    # re-expose the pruning trap above. The storage-hygiene sweep
    # classifies (and releases) exactly this kind of bounded
    # checkpoint block.
    back = pin(back, eager=True)
    shutil.rmtree(out, ignore_errors=True)
    return (
        back.groupBy(kind.alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("n_nationkey").alias("n_parsed_keys"),
        )
        .orderBy("kind")
    )


COMPACT_TARGET_BYTES = 8 * 1024 * 1024  # compaction target file size


@query(
    "io_compact_small_files",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(true AS BOOLEAN) AS row_conserving,
           CAST(true AS BOOLEAN) AS fewer_files
    FROM orders
    """,
    tags=("io", "scale"),
)
def io_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every large
    parquet lake schedules: a fragmented table (64 shards here, the
    steady-state damage of streaming/incremental writers) is rewritten
    into ceil(total_bytes / target) right-sized files. File listing is
    a driver-side METADATA operation (bounded by file count, the same
    listing any planner does); the data path is one scan + one
    round-robin repartition + one write, embarrassingly parallel at
    any scale. The gate row carries the row-conservation and
    fewer-files invariants; the oracle states them over the source."""
    import os
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders")

    frag_dir = tempfile.mkdtemp(prefix="compact_in_")
    out_dir = tempfile.mkdtemp(prefix="compact_out_")
    try:
        o.repartition(64).write.mode("overwrite").parquet(frag_dir)

        def parquet_files(d: str) -> list[str]:
            return [
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            ]

        before = parquet_files(frag_dir)
        total_bytes = sum(os.path.getsize(f) for f in before)
        n_out = max(1, -(-total_bytes // COMPACT_TARGET_BYTES))
        frag = spark.read.parquet(frag_dir)
        frag.repartition(n_out).write.mode("overwrite").parquet(out_dir)
        after = parquet_files(out_dir)

        n_before = o.count()
        n_after = spark.read.parquet(out_dir).count()
        # the gate row is pure literals — it references no scratch
        # data, so no materialization is needed before cleanup
        return spark.range(1).select(
            F.lit(n_after).alias("n_rows"),
            F.lit(n_after == n_before).alias("row_conserving"),
            F.lit(len(after) < len(before)).alias("fewer_files"),
        )
    finally:
        shutil.rmtree(frag_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


@query(
    "io_manifest_time_travel",
    oracle="""
    SELECT 1 AS version,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 2 AS version,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM orders
    ORDER BY version
    """,
    tags=("io", "lakehouse"),
)
def io_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel over plain parquet
    (io/manifest_store.py — the Delta/Iceberg core contract with no
    connector jar): v1 commits the early orders, v2 appends the rest;
    reading "v1" AFTER the append still returns exactly the first
    snapshot because a reader resolves a manifest (an immutable file
    list) before scanning, and the atomic manifest rename is the
    commit point. The gate row aggregates both versions against the
    source-table oracle, proving appends are invisible to pinned
    readers and the latest snapshot sees everything."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_tbl_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000), table, mode="overwrite")
    M.commit(o.filter(F.col("o_orderkey") > 1000), table, mode="append")

    def summarize(version: int) -> DataFrame:
        return M.read(spark, table, version).agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total"),
        ).select("version", "n_rows", "total")

    return summarize(1).unionByName(summarize(2)).orderBy("version")


@query(
    "io_manifest_table_changes",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey <= 2000
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN CAST(round(o_totalprice * 1.1, 2) AS DOUBLE)
                    ELSE CAST(o_totalprice AS DOUBLE) END AS o_totalprice
        FROM orders
        WHERE o_orderkey <= 2000 AND o_orderkey % 7 <> 0
    )
    SELECT 'delete' AS change_type, o_orderkey, o_totalprice
    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    UNION ALL
    SELECT 'insert' AS change_type, o_orderkey, o_totalprice
    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
    ORDER BY o_orderkey, change_type
    """,
    tags=("io", "lakehouse", "cdc"),
)
def io_manifest_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed BETWEEN SNAPSHOTS of the manifest table
    (table_changes() semantics without a connector): commit v1, then
    overwrite with a new state that deletes every 7th order and
    reprices every 5th; the diff of the two PINNED snapshot reads —
    exceptAll in both directions — yields the row-level feed, with an
    update surfacing as its delete+insert pair (value-based CDF, the
    form every log-structured table format can serve from snapshots
    alone). Both reads resolve immutable manifests, so the feed is
    reproducible forever regardless of later commits. The exceptAll
    diff is one hash aggregation per side at any scale."""
    from supabase_etl_spark.io import manifest_store as M

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", F.col("o_totalprice").cast("double"))
    )
    v2_df = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    table = scratch_dir("manifest_cdf_")
    M.commit(o, table, mode="overwrite")
    M.commit(v2_df, table, mode="overwrite")
    v1 = M.read(spark, table, 1)
    v2 = M.read(spark, table, 2)
    v1 = pin(v1)  # both except-directions (scan-leaf lint)
    v2 = pin(v2)  # both except-directions (scan-leaf lint)
    deletes = v1.exceptAll(v2).select(
        F.lit("delete").alias("change_type"), "o_orderkey", "o_totalprice"
    )
    inserts = v2.exceptAll(v1).select(
        F.lit("insert").alias("change_type"), "o_orderkey", "o_totalprice"
    )
    return deletes.unionByName(inserts).orderBy("o_orderkey", "change_type")


@query(
    "io_manifest_merge_upsert",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey <= 1500
    ),
    source AS (
        -- updates: reprice every 3rd existing key; inserts: keys in (1500, 2000]
        -- (0.9x as one IEEE multiply, no round(): both engines produce
        -- the identical double; round() tie semantics differ)
        SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) * 0.9 AS o_totalprice
        FROM orders
        WHERE (o_orderkey <= 1500 AND o_orderkey % 3 = 0)
           OR (o_orderkey > 1500 AND o_orderkey <= 2000)
    ),
    merged AS (
        SELECT t.o_orderkey,
               COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice
        FROM target t LEFT JOIN source s USING (o_orderkey)
        UNION ALL
        SELECT s.o_orderkey, s.o_totalprice
        FROM source s LEFT JOIN target t USING (o_orderkey)
        WHERE t.o_orderkey IS NULL
    )
    SELECT o_orderkey, o_totalprice FROM merged
    ORDER BY o_orderkey
    """,
    tags=("io", "lakehouse", "dml"),
    bench=True,
)
def io_manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the manifest table (Delta's ``WHEN MATCHED THEN
    UPDATE SET * / WHEN NOT MATCHED THEN INSERT *`` in copy-on-write
    form, no connector jar): v1 commits orders ≤1500; the source
    reprices every 3rd existing key (matched→update) and brings keys
    1501..2000 (not-matched→insert); the read of v2 must show exactly
    the upserted state. The scale property under test is FILE-LEVEL
    pruning: merge() rewrites only data files containing a matched
    key — every untouched file carries into the new manifest by name
    (pinned by tests/test_manifest_store.py::test_merge_carries_
    untouched_files) — so MERGE cost tracks touched-data + source
    size, not table size. The oracle replays the upsert relationally."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double")
    )
    table = scratch_dir("manifest_merge_")
    M.commit(o.filter(F.col("o_orderkey") <= 1500), table, mode="overwrite")
    source = (
        o.filter(
            ((F.col("o_orderkey") <= 1500) & (F.col("o_orderkey") % 3 == 0))
            | ((F.col("o_orderkey") > 1500) & (F.col("o_orderkey") <= 2000))
        )
        .select("o_orderkey", (F.col("o_totalprice") * 0.9).alias("o_totalprice"))
    )
    M.merge(spark, table, source, ["o_orderkey"])
    return M.read(spark, table).orderBy("o_orderkey")


@query(
    "io_manifest_delete_where",
    oracle="""
    SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 1500 AND NOT (o_orderstatus = 'F' AND o_totalprice > 150000)
    ORDER BY o_orderkey
    """,
    tags=("io", "lakehouse", "dml"),
)
def io_manifest_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE WHERE on the manifest table: rows matching
    the predicate vanish from the new snapshot; files without a single
    matching row carry over untouched (rewrite cost ∝ affected files,
    the Delta/Iceberg COW delete contract). Old snapshots still serve
    the deleted rows — deletion is a new version, not an erasure."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double")
    )
    table = scratch_dir("manifest_del_")
    M.commit(o.filter(F.col("o_orderkey") <= 1500), table, mode="overwrite")
    M.delete_where(
        spark, table, "o_orderstatus = 'F' AND o_totalprice > 150000"
    )
    return M.read(spark, table).orderBy("o_orderkey")


BLOOM_NDV_HINT = 2000  # expected distinct keys for the bloom sizing


@query(
    "io_parquet_bloom_layout",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_custkey IN (101, 577, 1203)
    ORDER BY o_orderkey
    """,
    tags=("io", "layout"),
)
def io_parquet_bloom_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet COLUMN BLOOM FILTERS — the third layout lever beside
    partitioning (directory pruning) and clustering (min/max stats):
    for a point lookup on a key that is neither the partition nor the
    sort key, row-group min/max spans nearly everything, but the
    per-row-group bloom bitmap answers "definitely absent" in O(1),
    skipping row groups no statistic could. Written via
    ``parquet.bloom.filter.enabled#col`` with an NDV sizing hint; the
    reader consults blooms automatically under
    ``spark.sql.parquet.filterPushdown``. At 100 TB this is the
    difference between a needle-in-haystack lookup scanning every row
    group of every file and touching only the few whose bitmap fires.
    The write is verified structurally in tests (bloom-enabled files
    carry the bitmap bytes; pyarrow still reads the footer) and
    semantically here: the point-IN scan over the bloomed layout must
    hash-equal the direct predicate on the source table.

    Operational nuance the test encodes: parquet-mr SKIPS the bloom
    for chunks that stay fully dictionary-encoded (the dictionary
    already answers membership exactly) — so at toy scale the option
    appears to do nothing, and at real scale, where key columns spill
    out of dictionary pages, the bitmaps appear. Size the NDV hint to
    the real per-row-group cardinality."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double")
    )
    out = scratch_dir("pq_bloom_")
    (
        o.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", str(BLOOM_NDV_HINT))
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("o_custkey").isin(101, 577, 1203)
    )
    return back.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        "o_orderkey"
    )


PARQUET_CODECS = ("snappy", "zstd", "gzip")


@query(
    "io_parquet_codecs",
    oracle=f"""
    SELECT codec, n_rows, CAST(true AS BOOLEAN) AS roundtrip_ok
    FROM (
        SELECT unnest({list(PARQUET_CODECS)}) AS codec,
               (SELECT count(*) FROM lineitem WHERE l_orderkey <= 4000) AS n_rows
    )
    ORDER BY codec
    """,
    tags=("io", "layout"),
)
def io_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec bake-off — the storage-cost dial nobody gets
    to ignore at 100 TB: the same lineitem slice written under snappy
    (Spark's default: fast, modest ratio), zstd (the modern default
    for cold data: ~25-40% smaller at similar read speed), and gzip
    (legacy; best ratio, slowest CPU). Every variant must read back
    row-identical — codec choice is a pure storage/CPU trade with zero
    semantic surface, which is exactly what the gate row proves. The
    relative SIZES are asserted in tests/test_plan_shapes.py
    (zstd < snappy on this data); sizes are environment-stable but not
    oracle-predictable, so the registry row carries the parity
    verdict, not the byte counts. Per-codec scratch layouts live in
    session scratch dirs; at scale this query is the shape of a
    format-migration dry run (write-new, verify-parity, flip)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 4000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    n_src = li.count()  # bounded slice; the parity anchor
    rows = []
    for codec in PARQUET_CODECS:
        out = scratch_dir(f"pq_codec_{codec}_")
        li.write.mode("overwrite").option("compression", codec).parquet(out)
        back = spark.read.parquet(out)
        n_back = back.count()
        same = (
            n_back == n_src
            and back.exceptAll(li).isEmpty()
            and li.exceptAll(back).isEmpty()
        )
        rows.append((codec, n_back, bool(same)))
    return spark.createDataFrame(
        rows, "codec string, n_rows bigint, roundtrip_ok boolean"
    ).orderBy("codec")


@query(
    "io_manifest_vacuum",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           2 AS manifests_removed,
           5 AS files_removed,
           TRUE AS expired_unreadable,
           TRUE AS orphan_gone
    FROM orders WHERE o_orderkey <= 500
    """,
    tags=("io", "lakehouse", "maintenance"),
)
def io_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the manifest table (Delta VACUUM / Iceberg
    expire_snapshots, no connector jar): three commits build history —
    v1 overwrite (orders ≤1000, 2 files), v2 append ((1000,2000], 2
    files), v3 overwrite (orders ≤500) — plus one planted orphan (an
    aborted write's data file no manifest names). vacuum(retain=1)
    must (a) drop exactly the v1/v2 manifests, (b) reclaim exactly
    their 4 data files + the orphan, (c) leave the retained snapshot
    byte-identical — the read-back aggregate hash-matches the source
    predicate — and (d) make expired time travel raise rather than
    serve a half-collected snapshot. File counts are deterministic
    because each commit repartitions to a fixed width. Purely
    driver-side metadata + unlink at any scale: O(files), no data
    scan, no Spark job (the read-back is the verification scan)."""
    import os

    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_vac_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000).repartition(2), table, "overwrite")
    M.commit(
        o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000))
        .repartition(2),
        table,
        "append",
    )
    M.commit(o.filter(F.col("o_orderkey") <= 500).repartition(1), table, "overwrite")
    with open(os.path.join(table, "data", "part-orphan.parquet"), "wb") as fh:
        fh.write(b"aborted-write-junk")

    stats = M.vacuum(table, retain_versions=1)
    try:
        M.read(spark, table, 1)
        expired_unreadable = False
    except FileNotFoundError:
        expired_unreadable = True
    orphan_gone = not os.path.exists(os.path.join(table, "data", "part-orphan.parquet"))

    return (
        M.read(spark, table)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("o_totalprice"), "total"))
        .select(
            "n_rows",
            "total",
            F.lit(stats["manifests_removed"]).alias("manifests_removed"),
            F.lit(stats["files_removed"]).alias("files_removed"),
            F.lit(expired_unreadable).alias("expired_unreadable"),
            F.lit(orphan_gone).alias("orphan_gone"),
        )
    )


@query(
    "io_manifest_file_stats",
    oracle="""
    SELECT 1 AS file_idx, count(*) AS n_rows,
           min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
           TRUE AS bytes_positive
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 2 AS file_idx, count(*) AS n_rows,
           min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
           TRUE AS bytes_positive
    FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000
    ORDER BY file_idx
    """,
    tags=("io", "lakehouse", "maintenance"),
)
def io_manifest_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level FILE STATISTICS (Iceberg manifest entries / Delta
    add-file stats): two single-file commits over disjoint o_orderkey
    ranges; file_stats() reads ONLY parquet footers (zero data I/O) and
    must report footer-true per-file row counts and column min/max —
    the metadata a planner intersects with a predicate to skip whole
    files before listing them. The oracle recomputes each file's
    stats relationally from the source ranges; a hash match proves the
    footer numbers are the truth, not an estimate. Driver-side and
    bounded by file count — the same metadata class as any lakehouse
    planner's file listing."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_stats_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000).repartition(1), table, "overwrite")
    M.commit(
        o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000))
        .repartition(1),
        table,
        "append",
    )
    stats = M.file_stats(table)  # metadata-sized: one dict per data file
    rows = sorted(
        (
            int(s["columns"]["o_orderkey"]["min"]),
            int(s["columns"]["o_orderkey"]["max"]),
            int(s["rows"]),
            s["bytes"] > 0,
        )
        for s in stats
    )
    return spark.createDataFrame(
        [
            (i + 1, n, mn, mx, bp)
            for i, (mn, mx, n, bp) in enumerate(rows)
        ],
        "file_idx int, n_rows bigint, min_k bigint, max_k bigint, bytes_positive boolean",
    ).orderBy("file_idx")


@query(
    "io_dynamic_partition_overwrite",
    oracle="""
    WITH merged AS (
        SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS p
        FROM orders WHERE o_orderpriority <> '1-URGENT'
        UNION ALL
        SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) * 0.5 AS p
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT o_orderpriority,
           count(*) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM merged
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("io", "layout", "dml"),
)
def io_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (INSERT OVERWRITE ... PARTITION
    semantics, `partitionOverwriteMode=dynamic` as a write option): a
    5-way priority-partitioned orders layout, then an overwrite whose
    input touches ONLY the 1-URGENT partition (prices halved). Dynamic
    mode must replace exactly the partitions present in the incoming
    data and leave the other four untouched — static mode (the
    default) would truncate the whole table first, so the readback
    aggregate hash-matches the merged oracle ONLY if partition-scoped
    replacement actually happened. At 100 TB this is the daily-load
    idiom: restate one day/priority in place without rewriting or even
    listing the rest of the table; overwrite cost tracks the restated
    partition's size."""
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double")
    )
    out = scratch_dir("dyn_po_")
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
    upd = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.5
    )
    (
        upd.write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "io_manifest_stats_pruned_scan",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           2 AS files_scanned,
           2 AS files_skipped,
           TRUE AS result_equals_full_scan
    FROM orders
    WHERE o_orderkey > 500 AND o_orderkey <= 1500
    """,
    tags=("io", "lakehouse", "planning"),
)
def io_manifest_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-stats FILE PRUNING closed loop — file_stats() used as the
    planner it exists for: four disjoint-key commits build a manifest
    table whose per-file o_orderkey ranges the planner intersects with
    the predicate (500, 1500], scanning ONLY the two overlapping files;
    the untouched half of the table is never opened. The gate pins (a)
    the pruned aggregate hash-equals the source predicate, (b) exactly
    2 of 4 files scanned, and (c) the pruned result equals the full
    scan + filter — prune-then-scan is a pure optimization, never a
    semantics change. This is the Iceberg/Delta min-max skip rebuilt
    end to end on the engine's own metadata: at 100 TB the planner
    reads O(files) footers and the query reads only intersecting
    files."""
    import os

    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_prune_")
    M.commit(o.filter(F.col("o_orderkey") <= 500).repartition(1), table, "overwrite")
    for lo, hi in [(500, 1000), (1000, 1500), (1500, 2000)]:
        M.commit(
            o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            .repartition(1),
            table,
            "append",
        )
    stats = M.file_stats(table)  # metadata-sized: one dict per file
    lo_p, hi_p = 500, 1500  # predicate: o_orderkey > 500 AND <= 1500
    keep = []
    for s in stats:
        if s["rows"] == 0:
            continue  # an empty file (possible at tiny SFs) never matches
        col = s["columns"].get("o_orderkey")
        # no stats for the column => cannot prove absence => must scan
        if col is None or (int(col["max"]) > lo_p and int(col["min"]) <= hi_p):
            keep.append(s["file"])
    pred = (F.col("o_orderkey") > lo_p) & (F.col("o_orderkey") <= hi_p)
    pruned = spark.read.parquet(*[os.path.join(table, f) for f in keep]).filter(pred)
    full = M.read(spark, table).filter(pred)
    agg = pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("total"),
    )
    same = pruned.exceptAll(full).isEmpty() and full.exceptAll(pruned).isEmpty()
    return agg.select(
        "n_rows",
        "total",
        F.lit(len(keep)).alias("files_scanned"),
        F.lit(len(stats) - len(keep)).alias("files_skipped"),
        F.lit(bool(same)).alias("result_equals_full_scan"),
    )


@query(
    "io_pyds_jsonl_source",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           CAST(max(event_id) AS BIGINT) AS max_event
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("io", "pyds"),
)
def io_pyds_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource BATCH READER over the chunked-jsonl sink's own
    manifest (io/jsonl_sink_source.ManifestJsonlReader) — the last
    cell of the Python DSv2 matrix: write through the DSv2 batch
    writer, read back through the DSv2 batch reader (driver plans one
    InputPartition per manifest-published file; executors parse their
    file locally; crash leftovers outside the manifest stay
    invisible). The aggregate of the round-trip must hash-equal the
    source predicate — both Python halves sit on the value hash."""
    from supabase_etl_spark.io import jsonl_sink_source as J

    J.register(spark)
    dest = scratch_dir("pyds_src_")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    ).select("event_id", "event_type", "value")
    ev.write.format("chunked_jsonl").option("path", dest).mode("append").save()
    back = (
        spark.read.format("chunked_jsonl")
        .option("path", dest)
        .option("schema", "event_id bigint, event_type string, value double")
        .load()
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
            F.max("event_id").alias("max_event"),
        )
        .orderBy("event_type")
    )


@query(
    "io_manifest_restore",
    oracle="""
    SELECT 4 AS version,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           TRUE AS bad_version_still_travelable
    FROM orders WHERE o_orderkey <= 1000
    """,
    tags=("io", "lakehouse", "maintenance"),
)
def io_manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE / rollback as a forward commit: v1 good (orders ≤1000),
    v2 bad append, v3 worse overwrite; restore(v1) publishes v4 whose
    file list is v1's BY NAME — zero bytes moved, the rollback is
    itself an auditable version, and the bad snapshots stay
    time-travelable for forensics. The gate aggregates the restored
    head against the v1 predicate and pins that the rolled-back v3 is
    still readable."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_restore_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000), table, "overwrite")      # v1
    M.commit(
        o.filter(F.col("o_orderkey") > 90000), table, "append", note="bad"
    )                                                                        # v2
    M.commit(o.limit(1), table, "overwrite", note="worse")                   # v3
    v4 = M.restore(table, 1)
    bad_readable = M.read(spark, table, 3).count() == 1
    return (
        M.read(spark, table)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("o_totalprice"), "total"))
        .select(
            F.lit(v4).alias("version"),
            "n_rows",
            "total",
            F.lit(bool(bad_readable)).alias("bad_version_still_travelable"),
        )
    )


@query(
    "io_manifest_merge_schema_evolution",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey <= 1000
    ),
    source AS (
        SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) * 0.9 AS o_totalprice,
               'repriced' AS o_flag
        FROM orders
        WHERE o_orderkey > 500 AND o_orderkey <= 1500
    ),
    merged AS (
        SELECT t.o_orderkey,
               COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
               s.o_flag
        FROM target t LEFT JOIN source s USING (o_orderkey)
        UNION ALL
        SELECT s.o_orderkey, s.o_totalprice, s.o_flag
        FROM source s LEFT JOIN target t USING (o_orderkey)
        WHERE t.o_orderkey IS NULL
    )
    SELECT o_orderkey, o_totalprice, o_flag FROM merged
    ORDER BY o_orderkey
    """,
    tags=("io", "lakehouse", "dml", "schema-evolution"),
)
def io_manifest_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION (Delta autoMerge): the source brings
    a column the target never had (o_flag); evolve_schema=True merges
    it in — updated/inserted rows carry the value, kept rows null-fill,
    and files untouched by the merge carry over in their OLD schema
    with the reader's footer union reconciling (zero rewrites bought
    the new column). The oracle replays the upsert with the evolved
    column relationally."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double")
    )
    table = scratch_dir("manifest_evolve_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000).repartition(2), table, "overwrite")
    source = (
        o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1500))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 0.9).alias("o_totalprice"),
            F.lit("repriced").alias("o_flag"),
        )
    )
    M.merge(spark, table, source, ["o_orderkey"], evolve_schema=True)
    return M.read(spark, table).select(
        "o_orderkey", "o_totalprice", "o_flag"
    ).orderBy("o_orderkey")


@query(
    "io_manifest_optimize",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           8 AS files_before,
           2 AS files_after,
           TRUE AS clustered_disjoint
    FROM orders WHERE o_orderkey <= 2000
    """,
    tags=("io", "lakehouse", "maintenance"),
)
def io_manifest_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on the manifest table: eight single-file appends build
    the small-file problem; optimize(target=2, cluster_by=o_custkey)
    rewrites the live snapshot into two range-clustered files as a new
    version. The gate pins (a) row/total conservation through the
    rewrite (value hash vs the source), (b) the 8→2 file counts, and
    (c) that the two files' o_custkey ranges are DISJOINT (footer
    stats via file_stats) — the property that makes post-OPTIMIZE
    pruning bite. Pre-optimize history remains readable."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = scratch_dir("manifest_opt_")
    for i in range(8):
        M.commit(
            o.filter(
                (F.col("o_orderkey") > i * 250) & (F.col("o_orderkey") <= (i + 1) * 250)
                | ((F.col("o_orderkey") == 0) if i == 0 else F.lit(False))
            ).repartition(1),
            table,
            "overwrite" if i == 0 else "append",
        )
    files_before = len(M._read_manifest(table, 8)["files"])
    M.optimize(spark, table, target_files=2, cluster_by=["o_custkey"])
    stats = M.file_stats(table)
    files_after = len(stats)
    ranges = sorted(
        (int(s["columns"]["o_custkey"]["min"]), int(s["columns"]["o_custkey"]["max"]))
        for s in stats
    )
    disjoint = all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    return (
        M.read(spark, table)
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("o_totalprice"), "total"))
        .select(
            "n_rows",
            "total",
            F.lit(files_before).alias("files_before"),
            F.lit(files_after).alias("files_after"),
            F.lit(bool(disjoint)).alias("clustered_disjoint"),
        )
    )


@query(
    "io_manifest_wap_publish",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 4 <> 0
    ),
    good AS (  -- the batch that passes the audit (positive prices only)
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 4 = 0
    ),
    -- the poisoned batch (negated prices) is staged, audited, DROPPED:
    -- it never reaches main, so the final table is base UNION good and
    -- main advanced exactly twice (v1 base, v2 publish)
    final AS (SELECT * FROM base UNION ALL SELECT * FROM good)
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           2 AS n_versions,
           0 AS n_branches_left
    FROM final
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("io", "manifest", "wap"),
)
def io_manifest_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (Iceberg WAP / Delta staging): batches land
    on an isolated BRANCH, a DQ audit runs against the branch snapshot,
    and only a passing batch fast-forwards main — a failing batch is
    dropped with main never touched. The poisoned batch (negated
    prices) is staged and audited FIRST to prove branch isolation: its
    rows never become visible to main readers, dropping it leaves only
    orphan files for vacuum, and main's version count records exactly
    the two real commits (base, publish) — staging is not a commit.

    Scale: staging IS a commit minus the version link (same immutable
    data files, metadata-sized branch manifest), the audit is whatever
    read-side plan the gate needs over the branch snapshot, and
    publish/drop are O(1) metadata — WAP costs one write of the batch
    regardless of table size, exactly Iceberg's bill."""
    import os

    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.io.scratch import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    table = scratch_dir("manifest_wap_")
    # modulo split keeps both the base and the batch non-empty at every
    # scale factor (absolute key cutoffs go empty at sf0.001)
    M.commit(o.filter(F.col("o_orderkey") % 4 != 0), table, mode="overwrite")

    def audit_passes() -> bool:
        branch_df = M.read_branch(spark, table, "etl")
        return branch_df.filter(F.col("o_totalprice") <= 0).count() == 0

    batch = o.filter(F.col("o_orderkey") % 4 == 0)
    # 1) poisoned batch: negated prices must fail the audit and be dropped
    M.stage(batch.withColumn("o_totalprice", -F.col("o_totalprice")), table, "etl")
    if audit_passes():  # pragma: no cover - guarded by the oracle hash
        raise AssertionError("poisoned batch must fail the WAP audit")
    M.drop_branch(table, "etl")
    # 2) clean batch: stage, audit, publish
    M.stage(batch, table, "etl")
    if not audit_passes():  # pragma: no cover
        raise AssertionError("clean batch must pass the WAP audit")
    M.publish_branch(table, "etl")

    bdir = os.path.join(table, "_manifests", "branches")
    n_branches = len(
        [f for f in (os.listdir(bdir) if os.path.isdir(bdir) else []) if f.endswith(".json")]
    )
    return (
        M.read(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("total"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "total",
            F.lit(M.current_version(table)).alias("n_versions"),
            F.lit(n_branches).alias("n_branches_left"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "io_manifest_shallow_clone",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    ),
    src_batch AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
    ),
    clone_batch AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 2
    ),
    src_final AS (SELECT * FROM base UNION ALL SELECT * FROM src_batch),
    clone_final AS (SELECT * FROM base UNION ALL SELECT * FROM clone_batch)
    SELECT 'clone' AS tbl,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM clone_final
    UNION ALL
    SELECT 'source', count(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
    FROM src_final
    ORDER BY tbl
    """,
    tags=("io", "manifest"),
)
def io_manifest_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE with independent evolution: the clone's
    first snapshot borrows the source's files by absolute path (no
    bytes move); afterwards each table appends its own batch and the
    gate pins that NEITHER append leaked into the other — the clone
    holds base+clone_batch, the source base+src_batch. The Delta
    operational caveat (source VACUUM can orphan borrowed files)
    carries over and is unit-tested rather than hand-waved."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.io.scratch import scratch_dir

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    src = scratch_dir("manifest_clone_src_")
    dst = scratch_dir("manifest_clone_dst_")
    M.commit(o.filter(F.col("o_orderkey") % 3 == 0), src, mode="overwrite")
    M.clone_shallow(src, dst)
    # divergence: each side appends a different batch
    M.commit(o.filter(F.col("o_orderkey") % 3 == 1), src, mode="append")
    M.commit(o.filter(F.col("o_orderkey") % 3 == 2), dst, mode="append")

    def summarize(table: str, name: str) -> DataFrame:
        return M.read(spark, table).agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("total"),
        ).select("tbl", "n_rows", "total")

    return summarize(dst, "clone").unionByName(summarize(src, "source")).orderBy("tbl")


@query(
    "io_manifest_mor_delete",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey <= 2000
    ),
    d1 AS (
        SELECT o_orderkey FROM base
        WHERE o_orderstatus = 'F' AND o_orderkey <= 800
    ),
    s1 AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d1)
    ),
    re AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey <= 100 AND o_orderstatus = 'F'
    ),
    s2 AS (
        SELECT * FROM s1 UNION ALL SELECT * FROM re
    ),
    fin AS (
        SELECT * FROM s2 WHERE NOT (o_orderkey % 7 = 3)
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS total_price,
           TRUE AS mor_no_rewrite,
           TRUE AS two_delete_entries,
           TRUE AS deletes_folded,
           TRUE AS compact_preserves
    FROM fin
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("io", "lakehouse", "mor"),
)
def io_manifest_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE with equality-delete files (Iceberg MOR /
    Delta deletion vectors), end to end:

    v1 commits orders<=2000 as 3 files; v2 MOR-deletes
    (status F, key<=800) — the file list must be UNCHANGED (write cost
    = keys, not table); v3 re-appends previously deleted rows, which
    must SURVIVE because the delete's applies_to scope names only the
    v1 files (Iceberg sequence-number ordering, extensionally); v4
    MOR-deletes key%7=3 across all current files; compact_mor() then
    folds both delete entries into plain files with the row set
    byte-preserved.

    Read amplification is the deliberate trade: each live delete is an
    anti-join at read time, bounded here by two entries and removed by
    compaction. At 100 TB the delete write moves megabytes of keys
    instead of rewriting terabytes of touched files — the reason every
    production format grew a MOR path."""
    import os

    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = scratch_dir("manifest_mor_")
    M.commit(o.filter(F.col("o_orderkey") <= 2000).repartition(3), table, "overwrite")
    files_v1 = M._read_manifest(table, 1)["files"]

    M.delete_where_mor(
        spark,
        table,
        "o_orderstatus = 'F' AND o_orderkey <= 800",
        ["o_orderkey"],
    )
    m2 = M._read_manifest(table, 2)
    mor_no_rewrite = m2["files"] == files_v1 and len(m2.get("deletes", [])) == 1

    M.commit(
        o.filter((F.col("o_orderkey") <= 100) & (F.col("o_orderstatus") == "F"))
        .repartition(1),
        table,
        "append",
    )
    M.delete_where_mor(spark, table, "o_orderkey % 7 = 3", ["o_orderkey"])
    v4 = M.current_version(table)
    two_delete_entries = len(M._read_manifest(table, v4).get("deletes", [])) == 2

    pre = M.read(spark, table).agg(
        F.count(F.lit(1)).alias("c"), dsum(F.col("o_totalprice"), "s")
    ).first()
    v5 = M.compact_mor(spark, table)
    deletes_folded = not M._read_manifest(table, v5).get("deletes")
    post = M.read(spark, table).agg(
        F.count(F.lit(1)).alias("c"), dsum(F.col("o_totalprice"), "s")
    ).first()
    compact_preserves = (pre["c"], pre["s"]) == (post["c"], post["s"])

    return (
        M.read(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            "total_price",
            F.lit(bool(mor_no_rewrite)).alias("mor_no_rewrite"),
            F.lit(bool(two_delete_entries)).alias("two_delete_entries"),
            F.lit(bool(deletes_folded)).alias("deletes_folded"),
            F.lit(bool(compact_preserves)).alias("compact_preserves"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "io_manifest_schema_enforcement",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 1000
    ),
    appended AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey > 1000 AND o_orderkey <= 1500
    ),
    final_rows AS (
        SELECT * FROM base UNION ALL SELECT * FROM appended
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price,
           TRUE AS drift_rejected,
           TRUE AS retype_rejected,
           TRUE AS version_unchanged_after_reject,
           TRUE AS conforming_append_ok
    FROM final_rows
    ORDER BY n_rows
    """,
    tags=("io", "lakehouse"),
)
def io_manifest_schema_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time schema enforcement on the manifest store (Delta's
    enforcement contract): v1 commits a two-column table; an append
    that ADDS a column and one that RETYPES a column are both rejected
    under schema_mode='enforce' with the version unchanged — the
    producer dies at write time instead of poisoning downstream reads —
    while a conforming append lands. Enforcement is a footer-only
    schema probe: no data rows are read to validate a write."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_enforce_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000), table, "overwrite")

    drift_rejected = False
    try:
        M.commit(
            o.filter(F.col("o_orderkey") <= 10).withColumn("extra", F.lit(1)),
            table,
            "append",
            schema_mode="enforce",
        )
    except M.SchemaEnforcementError:
        drift_rejected = True
    retype_rejected = False
    try:
        M.commit(
            o.filter(F.col("o_orderkey") <= 10).withColumn(
                "o_totalprice", F.col("o_totalprice").cast("string")
            ),
            table,
            "append",
            schema_mode="enforce",
        )
    except M.SchemaEnforcementError:
        retype_rejected = True
    version_unchanged = M.current_version(table) == 1

    M.commit(
        o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)),
        table,
        "append",
        schema_mode="enforce",
    )
    conforming_ok = M.current_version(table) == 2

    from supabase_etl_spark.queries._helpers import dsum

    return (
        M.read(spark, table)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(
            "n_rows",
            "total_price",
            F.lit(bool(drift_rejected)).alias("drift_rejected"),
            F.lit(bool(retype_rejected)).alias("retype_rejected"),
            F.lit(bool(version_unchanged)).alias("version_unchanged_after_reject"),
            F.lit(bool(conforming_ok)).alias("conforming_append_ok"),
        )
        .orderBy("n_rows")
    )


@query(
    "io_manifest_metadata_count",
    oracle="""
    WITH v1 AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey <= 3000),
    v2 AS (
        SELECT COUNT(*) AS c FROM orders
        WHERE o_orderkey <= 3000 OR (o_orderkey > 3000 AND o_orderkey <= 4000)
    )
    SELECT CAST(v1.c AS BIGINT) AS v1_rows,
           CAST(v2.c AS BIGINT) AS v2_rows,
           TRUE AS v1_metadata_matches_scan,
           TRUE AS v2_metadata_matches_scan,
           TRUE AS mor_returns_none,
           TRUE AS compacted_metadata_restored
    FROM v1 CROSS JOIN v2
    ORDER BY v1_rows
    """,
    tags=("io", "lakehouse"),
)
def io_manifest_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*): snapshot row counts answered from
    parquet footers with zero data rows read (the Delta/Iceberg
    instant-count trick), checked against full scans at two versions;
    a live MOR delete makes the metadata count honestly decline
    (returns None — footers cannot see anti-joined rows) and
    compaction restores it. At 100 TB this is the difference between a
    dashboard COUNT costing milliseconds of driver metadata and a
    full-table scan."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    table = scratch_dir("manifest_metacount_")
    M.commit(o.filter(F.col("o_orderkey") <= 3000).repartition(2), table, "overwrite")
    v1_meta = M.metadata_count(table)
    v1_scan = M.read(spark, table).count()

    M.commit(
        o.filter((F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 4000)),
        table,
        "append",
    )
    v2_meta = M.metadata_count(table)
    v2_scan = M.read(spark, table).count()

    M.delete_where_mor(spark, table, "o_orderkey % 5 = 0", ["o_orderkey"])
    mor_none = M.metadata_count(table) is None
    M.compact_mor(spark, table)
    compacted_ok = M.metadata_count(table) == M.read(spark, table).count()

    return spark.createDataFrame(
        [
            (
                int(v1_scan),
                int(v2_scan),
                bool(v1_meta == v1_scan),
                bool(v2_meta == v2_scan),
                bool(mor_none),
                bool(compacted_ok),
            )
        ],
        "v1_rows bigint, v2_rows bigint, v1_metadata_matches_scan boolean, "
        "v2_metadata_matches_scan boolean, mor_returns_none boolean, "
        "compacted_metadata_restored boolean",
    ).orderBy("v1_rows")


@query(
    "io_manifest_check_constraints",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 1000
    ),
    appended AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey > 1000 AND o_orderkey <= 1500
    ),
    final_rows AS (
        SELECT * FROM base UNION ALL SELECT * FROM appended
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price,
           TRUE AS violation_rejected,
           TRUE AS version_unchanged_after_reject,
           TRUE AS merge_violation_rejected,
           TRUE AS clean_append_ok,
           TRUE AS constraint_survives_delete
    FROM final_rows
    ORDER BY n_rows
    """,
    tags=("io", "lakehouse"),
)
def io_manifest_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraints on the manifest store (Delta's
    ALTER TABLE ADD CONSTRAINT contract): add_constraint validates the
    existing snapshot then gates every commit()/merge() — a violating
    append and a violating MERGE both die at write time with the
    version unchanged (NULL evaluations pass, SQL CHECK semantics), a
    clean append lands, and the constraint survives a COW DELETE via
    manifest metadata inheritance so maintenance can never silently
    drop it. Validation is ONE aggregation pass over the incoming
    batch counting violators of all constraints at once — cost is the
    write's own scan, never the table's."""
    from supabase_etl_spark.io import manifest_store as M

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_check_")
    M.commit(o.filter(F.col("o_orderkey") <= 1000), table, "overwrite")
    M.add_constraint(spark, table, "price_positive", "o_totalprice > 0")

    violation_rejected = False
    try:
        M.commit(
            o.filter(F.col("o_orderkey") <= 10).withColumn(
                "o_totalprice", F.lit(-1.0)
            ),
            table,
            "append",
        )
    except M.ConstraintViolationError:
        violation_rejected = True
    version_unchanged = M.current_version(table) == 2  # v2 = add-constraint

    merge_rejected = False
    try:
        M.merge(
            spark,
            table,
            o.filter(F.col("o_orderkey") <= 10).withColumn(
                "o_totalprice", F.lit(-2.0)
            ),
            key_cols=["o_orderkey"],
        )
    except M.ConstraintViolationError:
        merge_rejected = True

    M.commit(
        o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)),
        table,
        "append",
    )
    clean_ok = M.current_version(table) == 3

    # constraint survives maintenance: COW-delete nothing-matching rows,
    # then confirm a violating append is STILL rejected
    M.delete_where(spark, table, "o_totalprice < 0")
    survives = False
    try:
        M.commit(
            o.filter(F.col("o_orderkey") <= 5).withColumn("o_totalprice", F.lit(-3.0)),
            table,
            "append",
        )
    except M.ConstraintViolationError:
        survives = True

    from supabase_etl_spark.queries._helpers import dsum

    return (
        M.read(spark, table)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(
            "n_rows",
            "total_price",
            F.lit(bool(violation_rejected)).alias("violation_rejected"),
            F.lit(bool(version_unchanged)).alias("version_unchanged_after_reject"),
            F.lit(bool(merge_rejected)).alias("merge_violation_rejected"),
            F.lit(bool(clean_ok)).alias("clean_append_ok"),
            F.lit(bool(survives)).alias("constraint_survives_delete"),
        )
        .orderBy("n_rows")
    )


@query(
    "io_manifest_tag_retention",
    oracle="""
    WITH tagged AS (
        SELECT count(*) AS n_tag_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS tag_total
        FROM orders WHERE o_orderkey <= 800
    ),
    latest AS (
        SELECT count(*) AS n_latest_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS latest_total
        FROM orders WHERE o_orderkey <= 600
    )
    SELECT t.n_tag_rows, t.tag_total, l.n_latest_rows, l.latest_total,
           1 AS tag_version, 1 AS manifests_removed, 1 AS files_removed,
           TRUE AS expired_unreadable
    FROM tagged t CROSS JOIN latest l
    """,
    tags=("io", "lakehouse", "maintenance"),
)
def io_manifest_tag_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAGS as retention roots (Iceberg tags + expire_snapshots ref
    protection): v1 (orders ≤800) is tagged 'train-corpus', v2 (≤400)
    and v3 (≤600) overwrite it, then vacuum(retain=1) runs. The tag
    must pin v1's manifest AND data files through the vacuum — the
    reproducibility contract that lets a model card say 'trained on
    tag train-corpus' years later — while the untagged v2 expires
    (manifest + its one data file reclaimed) and time travel to it
    raises. Read-back through the tag and through latest both
    hash-match the source predicates. Tag publication is put-if-absent
    like a commit; vacuum stays driver-side O(files) at any scale."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("manifest_tag_")
    M.commit(o.filter(F.col("o_orderkey") <= 800).repartition(2), table, "overwrite")
    tag_v = M.create_tag(table, "train-corpus", note="flagship training corpus")
    M.commit(o.filter(F.col("o_orderkey") <= 400).repartition(1), table, "overwrite")
    M.commit(o.filter(F.col("o_orderkey") <= 600).repartition(1), table, "overwrite")

    stats = M.vacuum(table, retain_versions=1)
    try:
        M.read(spark, table, 2)
        expired_unreadable = False
    except FileNotFoundError:
        expired_unreadable = True

    tagged = M.read_tag(spark, table, "train-corpus").agg(
        F.count(F.lit(1)).alias("n_tag_rows"), dsum(F.col("o_totalprice"), "tag_total")
    )
    latest = M.read(spark, table).agg(
        F.count(F.lit(1)).alias("n_latest_rows"),
        dsum(F.col("o_totalprice"), "latest_total"),
    )
    return tagged.crossJoin(latest).select(
        "n_tag_rows",
        "tag_total",
        "n_latest_rows",
        "latest_total",
        F.lit(tag_v).alias("tag_version"),
        F.lit(stats["manifests_removed"]).alias("manifests_removed"),
        F.lit(stats["files_removed"]).alias("files_removed"),
        F.lit(expired_unreadable).alias("expired_unreadable"),
    )


@query(
    "io_delta_log_roundtrip",
    oracle="""
    WITH latest AS (
        SELECT count(*) AS n_latest,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS latest_total
        FROM orders WHERE o_orderkey <= 600
    ),
    v0 AS (
        SELECT count(*) AS n_v0,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS v0_total
        FROM orders WHERE o_orderkey <= 1000
    )
    SELECT l.n_latest, l.latest_total, v.n_v0, v.v0_total,
           2 AS latest_version, 2 AS n_live_files,
           TRUE AS checkpoint_used
    FROM latest l CROSS JOIN v0 v
    """,
    tags=("io", "lakehouse", "interop"),
)
def io_delta_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-Lake TRANSACTION-LOG interop without the delta-spark jar:
    the engine-built log writer commits v0 (orders ≤1000, JSON actions
    with protocol/metaData/add), v1 overwrites (≤400, remove+add), a
    CHECKPOINT parquet snapshots v1, and v2 appends ((400,600]) — then
    the reader resolves snapshots from checkpoint + JSON replay, time
    travels to v0, and both read-backs hash-match the source
    predicates. This is the format's core contract (replay
    add/remove, last action per path wins, checkpoint skips the
    prefix) — a user's existing basic Delta tables read the same way.
    Snapshot resolution is driver-side O(commits); data I/O is the
    exact live file set."""
    from supabase_etl_spark.io import delta_log as D
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = scratch_dir("delta_rt_")
    D.write_delta(o.filter(F.col("o_orderkey") <= 1000).repartition(2), table)
    D.write_delta(o.filter(F.col("o_orderkey") <= 400).repartition(1), table)
    D.write_checkpoint(spark, table)
    D.write_delta(
        o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 600))
        .repartition(1),
        table,
        mode="append",
    )
    checkpoint_used = D._last_checkpoint(table) is not None
    n_live = len(D.snapshot_files(spark, table))
    latest = D.read_delta(spark, table).agg(
        F.count(F.lit(1)).alias("n_latest"), dsum(F.col("o_totalprice"), "latest_total")
    )
    v0 = D.read_delta(spark, table, version=0).agg(
        F.count(F.lit(1)).alias("n_v0"), dsum(F.col("o_totalprice"), "v0_total")
    )
    return latest.crossJoin(v0).select(
        "n_latest",
        "latest_total",
        "n_v0",
        "v0_total",
        F.lit(D.current_version(table)).alias("latest_version"),
        F.lit(n_live).alias("n_live_files"),
        F.lit(checkpoint_used).alias("checkpoint_used"),
    )


@query(
    "io_manifest_hidden_partitioning",
    oracle="""
    WITH agg AS (
        SELECT count(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS march_total
        FROM orders WHERE month(o_orderdate) = 3
    ),
    parts AS (
        SELECT count(*) AS n_files_total FROM (
            SELECT DISTINCT month(o_orderdate), o_custkey % 4 FROM orders
        )
    ),
    hit AS (
        SELECT count(*) AS n_files_read FROM (
            SELECT DISTINCT o_custkey % 4 FROM orders
            WHERE month(o_orderdate) = 3
        )
    )
    SELECT a.n_rows, a.march_total,
           CAST(p.n_files_total AS BIGINT) AS n_files_total,
           CAST(h.n_files_read AS BIGINT) AS n_files_read
    FROM agg a CROSS JOIN parts p CROSS JOIN hit h
    """,
    tags=("io", "lakehouse", "layout"),
)
def io_manifest_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN PARTITIONING (Iceberg partition transforms): orders are
    committed with derived partition tuples month(o_orderdate) x
    bucket(4, o_custkey) recorded ONLY in the manifest — the data
    files keep source columns, one file per tuple — and a reader
    filtering on the month transform prunes to exactly the matching
    files before any I/O. The oracle recomputes both the March
    aggregate and the expected file counts (distinct partition tuples
    / distinct tuples with month=3) relationally, so the pruning
    arithmetic itself is hash-verified, not asserted as constants.
    At 100 TB this is the layout decision that turns month-scoped
    queries into 1/12th scans with zero partition columns stored."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    table = scratch_dir("manifest_hidden_")
    M.commit_partitioned(
        o, table, {"om": "month(o_orderdate)", "cb": "pmod(o_custkey, 4)"}
    )
    march, total, n_read = M.read_partitioned(spark, table, filters={"om": "3"})
    agg = march.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum(F.col("o_totalprice"), "march_total")
    )
    return agg.select(
        "n_rows",
        "march_total",
        F.lit(total).cast("bigint").alias("n_files_total"),
        F.lit(n_read).cast("bigint").alias("n_files_read"),
    )


@query(
    "io_manifest_positional_delete",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey <= 1500
    ),
    s1 AS (
        SELECT * FROM base
        WHERE NOT (o_orderstatus = 'O' AND o_orderkey % 5 = 0)
    ),
    re AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderkey <= 50 AND o_orderstatus = 'O' AND o_orderkey % 5 = 0
    ),
    s2 AS (
        SELECT * FROM s1 UNION ALL SELECT * FROM re
    ),
    fin AS (
        SELECT * FROM s2 WHERE NOT (o_orderkey % 11 = 7)
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS total_price,
           TRUE AS positional_no_rewrite,
           TRUE AS two_delete_entries,
           TRUE AS deletes_folded
    FROM fin
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("io", "lakehouse", "mor"),
)
def io_manifest_positional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE with POSITIONAL delete files (Iceberg's
    second delete-file kind, io/manifest_store.delete_where_positional):
    rows are addressed by (data file, parquet row ordinal via
    `_metadata.row_index`) instead of key values — the form Iceberg
    writes when keys repeat or no identity columns exist, since an
    equality delete would erase every row sharing the key while a
    positional delete erases exactly the matched physical rows.

    v1 commits orders<=1500 as 3 files; v2 positional-deletes
    (status O, key%5=0) with the file list UNCHANGED; v3 re-appends a
    slice of the deleted rows, which survive because the delete's
    applies_to scope names only v1's files (positions in NEW files are
    untouched by construction — no sequence numbers needed); v4 layers
    a second positional delete over all current files; compact_mor()
    folds both entries into plain files, row set byte-preserved.

    100 TB: delete cost = one pruned scan + a (string,long)-pair write
    proportional to MATCHED rows; read amplification = one (file,pos)
    anti-join per live entry until compaction — the exact trade Iceberg
    documents for positional deletes."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = scratch_dir("manifest_posdel_")
    M.commit(o.filter(F.col("o_orderkey") <= 1500).repartition(3), table, "overwrite")
    files_v1 = M._read_manifest(table, 1)["files"]

    M.delete_where_positional(
        spark, table, "o_orderstatus = 'O' AND o_orderkey % 5 = 0"
    )
    m2 = M._read_manifest(table, 2)
    positional_no_rewrite = (
        m2["files"] == files_v1
        and len(m2.get("deletes", [])) == 1
        and m2["deletes"][0]["type"] == "positional"
    )

    M.commit(
        o.filter(
            (F.col("o_orderkey") <= 50)
            & (F.col("o_orderstatus") == "O")
            & (F.col("o_orderkey") % 5 == 0)
        ).repartition(1),
        table,
        "append",
    )
    M.delete_where_positional(spark, table, "o_orderkey % 11 = 7")
    v4 = M.current_version(table)
    two_delete_entries = len(M._read_manifest(table, v4).get("deletes", [])) == 2

    v5 = M.compact_mor(spark, table)
    deletes_folded = not M._read_manifest(table, v5).get("deletes")

    return (
        M.read(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            "total_price",
            F.lit(bool(positional_no_rewrite)).alias("positional_no_rewrite"),
            F.lit(bool(two_delete_entries)).alias("two_delete_entries"),
            F.lit(bool(deletes_folded)).alias("deletes_folded"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "io_manifest_partition_evolution",
    oracle="""
    WITH old_batch AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               EXTRACT(month FROM o_orderdate) AS om
        FROM orders WHERE o_orderkey <= 1000
    ),
    new_batch AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               EXTRACT(month FROM o_orderdate) AS om
        FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000
    ),
    uni AS (
        SELECT *, 'old-spec' AS spec FROM old_batch
        UNION ALL
        SELECT *, 'new-spec' AS spec FROM new_batch
    )
    SELECT spec,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price,
           TRUE AS new_spec_pruned,
           TRUE AS old_spec_retained,
           TRUE AS old_filter_prunes_old
    FROM uni
    WHERE o_orderstatus = 'F'
    GROUP BY spec
    ORDER BY spec
    """,
    tags=("io", "lakehouse", "partitioning"),
)
def io_manifest_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION (Iceberg spec-id semantics over the hidden-
    partitioning manifest): v1 commits orders<=1000 partitioned by
    month(o_orderdate); v2 APPENDS orders 1001..2000 partitioned by a
    DIFFERENT transform, o_orderstatus — without rewriting a byte of
    v1. Each file keeps the partition tuple of the spec it was written
    under; read_partitioned() prunes per-file against the file's OWN
    tuple, so a filter on the new spec ({status: 'F'}) skips non-F
    new-spec files while conservatively scanning EVERY old-spec file
    (their tuples can't prove exclusion — Iceberg's residual-predicate
    rule), and the caller's row predicate finishes the job. The query
    verifies both pruning directions with file counts, then aggregates
    the status='F' rows per spec generation.

    100 TB: spec changes are pure metadata (one manifest commit);
    old data lays out under the old spec until OPTIMIZE rewrites it,
    exactly Iceberg's documented evolution story."""
    from supabase_etl_spark.io import manifest_store as M
    from supabase_etl_spark.queries._helpers import dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    table = scratch_dir("manifest_pevo_")
    M.commit_partitioned(
        o.filter(F.col("o_orderkey") <= 1000),
        table,
        {"om": "month(o_orderdate)"},
    )
    n_old = len(M._read_manifest(table, 1)["files"])
    M.commit_partitioned(
        o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000)),
        table,
        {"status": "o_orderstatus"},
        mode="append",
    )
    total_files = len(M._read_manifest(table, 2)["files"])
    n_new = total_files - n_old

    pruned, total, n_read = M.read_partitioned(spark, table, filters={"status": "F"})
    # new-spec files pruned to the single F file; every old-spec file kept
    new_spec_pruned = n_read == n_old + 1 and total == total_files and n_new > 1
    old_spec_retained = n_read >= n_old

    _, _, n_read_old = M.read_partitioned(spark, table, filters={"om": "3"})
    old_filter_prunes_old = n_read_old == 1 + n_new

    spec = F.when(F.col("o_orderkey") <= 1000, "old-spec").otherwise("new-spec")
    return (
        pruned.filter(F.col("o_orderstatus") == "F")
        .groupBy(spec.alias("spec"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(
            "spec",
            "n_rows",
            "total_price",
            F.lit(bool(new_spec_pruned)).alias("new_spec_pruned"),
            F.lit(bool(old_spec_retained)).alias("old_spec_retained"),
            F.lit(bool(old_filter_prunes_old)).alias("old_filter_prunes_old"),
        )
        .orderBy("spec")
    )


@query(
    "io_pyds_pushdown_pruned_scan",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           TRUE AS files_pruned,
           TRUE AS all_filters_reevaluated
    FROM events
    WHERE event_id >= 7000
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("io", "pyds", "pushdown"),
)
def io_pyds_pushdown_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DSv2 FILTER PUSHDOWN end to end (Spark 4.1
    `DataSourceReader.pushFilters`): the chunked-jsonl sink records
    per-file numeric min/max in its manifest; a range-partitioned
    write gives the files disjoint event_id ranges; the reader prunes
    whole files whose stats cannot satisfy `event_id >= 7000` and
    still returns every filter for row-level re-evaluation — the same
    conservative contract parquet footer pruning honors. The query
    verifies pruning via the reader's file counters and value-hashes
    the filtered aggregate against the direct scan.

    100 TB: pruning turns the Python source's scan cost from
    corpus-sized to matching-file-sized — the difference between a
    REST-shaped source being a toy and being usable."""
    from supabase_etl_spark.io import jsonl_sink_source as J
    from supabase_etl_spark.io.jsonl_sink_source import ManifestJsonlReader

    J.register(spark)
    dest = scratch_dir("pyds_push_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    (
        ev.repartitionByRange(4, "event_id")
        .write.format("chunked_jsonl")
        .option("path", dest)
        .mode("append")
        .save()
    )
    # reader-internals probe: the planner-side pruning decision
    from pyspark.sql.datasource import GreaterThanOrEqual

    rd = ManifestJsonlReader(
        {"path": dest, "schema": "event_id bigint, event_type string, value double"}
    )
    leftover = list(rd.pushFilters([GreaterThanOrEqual(("event_id",), 7000)]))
    rd.partitions()
    files_pruned = rd.files_read < rd.files_total and rd.files_read >= 1
    all_reevaluated = len(leftover) == 1

    back = (
        spark.read.format("chunked_jsonl")
        .option("path", dest)
        .option("schema", "event_id bigint, event_type string, value double")
        .load()
        .filter(F.col("event_id") >= 7000)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .select(
            "event_type",
            "n",
            "total_value",
            F.lit(bool(files_pruned)).alias("files_pruned"),
            F.lit(bool(all_reevaluated)).alias("all_filters_reevaluated"),
        )
        .orderBy("event_type")
    )


@query(
    "io_manifest_column_mapping",
    oracle="""
    WITH base AS (SELECT n_nationkey, n_name FROM nation),
    appended AS (
        SELECT n_nationkey + 100 AS n_nationkey, n_name FROM nation
        WHERE n_nationkey < 5
    ),
    v3 AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           'n_name' AS name_col, min(n_name) AS min_name,
           CAST(NULL AS BOOLEAN) AS metadata_only_rename
    FROM base
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), 'nation_name', min(n_name), TRUE
    FROM base
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT), 'nation_name', min(n_name), FALSE
    FROM v3
    ORDER BY version
    """,
    tags=("io", "lakehouse"),
    scans=(
        "reads versions 1, 2 and 3 of the same manifest table — time travel across a metadata-only rename IS the query",
    ),
)
def io_manifest_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column rename through the manifest store's column
    mapping (Delta column-mapping name mode / Iceberg RENAME COLUMN):
    v1 commits nation, v2 renames n_name→nation_name WITHOUT touching
    any data file (the query itself asserts v2's file list is
    byte-identical to v1's and reports it as `metadata_only_rename`),
    v3 appends rows THROUGH THE LOGICAL SCHEMA (writer uses
    nation_name; commit() translates back to the physical n_name so
    old and new files stay footer-compatible). Each version's read()
    is summarized under the column name that version exposes.

    100 TB: the rename is O(1) — one JSON manifest, zero data I/O;
    reads pay one withColumnRenamed (a projection alias, free in the
    plan); appends pay the same translation. That is the entire point
    of name-mode mapping vs rewrite-the-table renames."""
    from supabase_etl_spark.io import manifest_store as M

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    table = scratch_dir("manifest_colmap_")
    v1 = M.commit(n, table, mode="overwrite")
    v2 = M.rename_column(table, "n_name", "nation_name")
    # metadata-only proof: the rename commit names exactly v1's files
    f1 = M._read_manifest(table, v1)["files"]
    f2 = M._read_manifest(table, v2)["files"]
    meta_only = sorted(f1) == sorted(f2)
    appended = (
        n.filter(F.col("n_nationkey") < 5)
        .select((F.col("n_nationkey") + 100).alias("n_nationkey"),
                F.col("n_name").alias("nation_name"))
    )
    v3 = M.commit(appended, table, mode="append")

    def summarize(version: int, name_col: str, flag) -> DataFrame:
        return (
            M.read(spark, table, version)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.min(name_col).alias("min_name"))
            .select(
                F.lit(version).alias("version"),
                "n_rows",
                F.lit(name_col).alias("name_col"),
                "min_name",
                flag.alias("metadata_only_rename"),
            )
        )

    return (
        summarize(v1, "n_name", F.lit(None).cast("boolean"))
        .unionByName(summarize(v2, "nation_name", F.lit(bool(meta_only))))
        .unionByName(summarize(v3, "nation_name", F.lit(False)))
        .orderBy("version")
    )


@query(
    "io_manifest_row_lineage",
    oracle="""
    WITH v1 AS (SELECT n_nationkey FROM nation WHERE n_nationkey < 10),
    c1 AS (SELECT count(*) AS n1 FROM v1),
    v2 AS (SELECT n_nationkey FROM nation WHERE n_nationkey >= 10)
    SELECT 1 AS commit_version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS first_row_id,
           CAST(count(*) AS BIGINT) AS last_row_id,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM v1
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST((SELECT n1 FROM c1) + 1 AS BIGINT),
           CAST((SELECT n1 FROM c1) + count(*) AS BIGINT),
           CAST(SUM(n_nationkey) AS BIGINT)
    FROM v2
    ORDER BY commit_version
    """,
    tags=("io", "lakehouse"),
)
def io_manifest_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row lineage through the manifest store (Iceberg v3 row-lineage
    shape): every commit's new files receive a contiguous block of
    globally unique, monotonically increasing `_row_id`s (pinned in the
    manifest as file→first_row_id; the id of a row is first_row_id +
    its parquet row ordinal) plus `_commit_version` naming the snapshot
    that added it. Two ordered single-file commits make the assignment
    oracle-predictable: v1's rows are ids 1..N1, v2's N1+1..N1+N2 —
    and because blocks are inherited, re-reading after the append
    leaves v1's ids untouched (the grouped result proves both).

    100 TB: ids cost nothing at read time (`_metadata.row_index` is
    scanner-computed; the block map is a broadcast literal map), and
    commit-time assignment reads only NEW files' footers — O(new
    files), the same class as footer stats. COW rewrites re-id rows
    (documented deviation; Iceberg materializes ids into rewritten
    files to carry them)."""
    from supabase_etl_spark.io import manifest_store as M

    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    table = scratch_dir("manifest_lineage_")
    # orderBy + coalesce(1): one sorted file per commit, so parquet row
    # ordinals (and hence row ids) are deterministic for the oracle
    M.commit(n.filter(F.col("n_nationkey") < 10).orderBy("n_nationkey").coalesce(1),
             table, mode="overwrite")
    M.commit(n.filter(F.col("n_nationkey") >= 10).orderBy("n_nationkey").coalesce(1),
             table, mode="append")
    return (
        M.read_lineage(spark, table)
        .groupBy(F.col("_commit_version").alias("commit_version"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("_row_id").cast("bigint").alias("first_row_id"),
            F.max("_row_id").cast("bigint").alias("last_row_id"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .orderBy("commit_version")
    )


@query(
    "io_manifest_merge_delete_clause",
    oracle="""
    WITH base AS (
        SELECT n_nationkey AS k, n_name AS v FROM nation
    ),
    feed AS (
        -- CDC batch: delete even keys < 10, update keys 10..14, insert 100..102
        SELECT n_nationkey AS k, 'D' AS op, CAST(NULL AS VARCHAR) AS v
        FROM nation WHERE n_nationkey < 10 AND n_nationkey % 2 = 0
        UNION ALL
        SELECT n_nationkey, 'U', upper(n_name)
        FROM nation WHERE n_nationkey BETWEEN 10 AND 14
        UNION ALL
        SELECT n_nationkey + 100, 'U', concat('NEW_', n_name)
        FROM nation WHERE n_nationkey < 3
    ),
    merged AS (
        SELECT b.k, COALESCE(f.v, b.v) AS v
        FROM base b LEFT JOIN feed f ON b.k = f.k
        WHERE f.op IS NULL OR f.op <> 'D'
        UNION ALL
        SELECT f.k, f.v FROM feed f
        WHERE f.op = 'U' AND f.k NOT IN (SELECT k FROM base)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS sum_keys,
           CAST(SUM(CASE WHEN v = upper(v) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_upper_names,
           min(v) AS min_name
    FROM merged
    """,
    tags=("io", "lakehouse"),
)
def io_manifest_merge_delete_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD Delta MERGE clause in one atomic COW transaction:
    WHEN MATCHED AND op='D' THEN DELETE / WHEN MATCHED THEN UPDATE SET *
    / WHEN NOT MATCHED THEN INSERT *. A single CDC feed carrying
    tombstones, updates, and inserts lands as ONE snapshot — no
    intermediate version where deletes applied but updates had not
    (the anomaly a delete_where+merge two-step would expose to
    concurrent readers). The summary hashes the merged table against
    the relational oracle of the same feed.

    100 TB: identical cost shape to the 2-clause merge — only files
    containing a matched key (update OR tombstone) rewrite; the
    tombstone split is two filters on the already-scanned source."""
    from supabase_etl_spark.io import manifest_store as M

    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
    )
    table = scratch_dir("manifest_mergedel_")
    M.commit(n, table, mode="overwrite")
    feed = (
        n.filter((F.col("k") < 10) & (F.col("k") % 2 == 0))
        .select("k", F.lit("D").alias("op"), F.lit(None).cast("string").alias("v"))
        .unionByName(
            n.filter(F.col("k").between(10, 14)).select(
                "k", F.lit("U").alias("op"), F.upper("v").alias("v")
            )
        )
        .unionByName(
            n.filter(F.col("k") < 3).select(
                (F.col("k") + 100).alias("k"),
                F.lit("U").alias("op"),
                F.concat(F.lit("NEW_"), F.col("v")).alias("v"),
            )
        )
    )
    M.merge(spark, table, feed, ["k"], delete_condition="op = 'D'")
    return M.read(spark, table).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("k").cast("bigint").alias("sum_keys"),
        F.sum(F.when(F.col("v") == F.upper("v"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_upper_names"),
        F.min("v").alias("min_name"),
    )


# Z-order clustering ledger: 16-bit per-dimension grid, 64 target files.
# The bit-interleave is generated ONCE as SQL text shared verbatim by the
# Spark expression and the DuckDB oracle — pure integer DIV/% arithmetic
# (no engine-specific shift operators), so the z-values are exact and
# identical by construction.
ZORDER_BITS = 16
ZORDER_FILES = 64


def _zorder_expr(px: str, sx: str, div: str) -> str:
    """``div`` is the engine's integer-division spelling — Spark SQL
    ``DIV``, DuckDB ``//``; everything else is shared verbatim."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({px} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({sx} {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@query(
    "io_zorder_clustering_prune",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(MAX(l_partkey) AS BIGINT) AS maxp,
               CAST(MAX(l_suppkey) AS BIGINT) AS maxs,
               CAST(MAX(l_orderkey) AS BIGINT) AS maxo
        FROM lineitem
    ),
    keyed AS (
        SELECT ((l_partkey - 1) * {1 << ZORDER_BITS}) // b.maxp AS px,
               ((l_suppkey - 1) * {1 << ZORDER_BITS}) // b.maxs AS sx,
               l_orderkey, l_partkey, l_suppkey, b.maxp, b.maxs, b.maxo
        FROM lineitem, bounds b
    ),
    zed AS (
        SELECT l_partkey, l_suppkey, maxp, maxs,
               ({_zorder_expr("px", "sx", "//")}) AS z,
               ((l_orderkey - 1) * {ZORDER_FILES}) // maxo AS natural_file
        FROM keyed
    ),
    assigned AS (
        SELECT l_partkey, l_suppkey, maxp, maxs, natural_file,
               (z * {ZORDER_FILES}) // {1 << (2 * ZORDER_BITS)} AS zorder_file
        FROM zed
    ),
    stacked AS (
        SELECT 'natural' AS layout, natural_file AS f,
               l_partkey, l_suppkey, maxp, maxs FROM assigned
        UNION ALL
        SELECT 'zorder' AS layout, zorder_file AS f,
               l_partkey, l_suppkey, maxp, maxs FROM assigned
    ),
    stats AS (
        SELECT layout, f,
               MIN(l_partkey) AS min_p, MAX(l_partkey) AS max_p,
               MIN(l_suppkey) AS min_s, MAX(l_suppkey) AS max_s,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN l_partkey BETWEEN (maxp * 7) // 16
                                              AND (maxp * 9) // 16
                              AND l_suppkey BETWEEN (maxs * 7) // 16
                                              AND (maxs * 9) // 16
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
               MAX(maxp) AS maxp, MAX(maxs) AS maxs
        FROM stacked GROUP BY layout, f
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN NOT (max_p < (maxp * 7) // 16
                                OR min_p > (maxp * 9) // 16
                                OR max_s < (maxs * 7) // 16
                                OR min_s > (maxs * 9) // 16)
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(SUM(CASE WHEN NOT (max_p < (maxp * 7) // 16
                                OR min_p > (maxp * 9) // 16
                                OR max_s < (maxs * 7) // 16
                                OR min_s > (maxs * 9) // 16)
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matching
    FROM stats GROUP BY layout
    ORDER BY layout
    """,
    tags=("io", "lakehouse", "layout"),
)
def io_zorder_clustering_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering planner + pruning ledger — the lakehouse
    OPTIMIZE ZORDER BY (partkey, suppkey) decision, measured instead of
    asserted: map both cluster keys onto a 16-bit grid, bit-interleave
    them into a Morton z-value (pure integer DIV/% arithmetic shared
    verbatim with the oracle), range-split z-space into 64 target
    files, and compute each file's min/max column stats. The ledger
    then replays a center 2-D box predicate (middle eighth of each key
    range) against those stats — exactly the min/max zone-map pruning
    a manifest-backed scan performs — for BOTH layouts: insert-order
    ("natural", orderkey ranges) and z-ordered. files_scanned /
    rows_scanned quantify what Z-ordering buys: a 2-D box on a natural
    layout hits nearly every file (partkey is uncorrelated with insert
    order), while the z-layout bounds it near the box's area fraction.
    At 100 TB this IS the decision ledger for paying the clustering
    rewrite: one linear pass + a 64-row stats table per layout, no
    shuffle beyond the stats aggregate; the same z-expression feeds a
    repartitionByRange writer when the rewrite is actually executed
    (io_manifest_optimize / io_compact_small_files do the file IO
    side). Complements io_parquet_zorder above: that query WRITES a
    z-clustered layout and proves both predicates push into the scan;
    this one quantifies the files/rows-scanned BENEFIT against the
    natural layout — the before/after number that justifies paying the
    rewrite. Every value is exact integer arithmetic — no float
    rounding anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    bounds = F.broadcast(
        li.agg(
            F.max("l_partkey").cast("bigint").alias("maxp"),
            F.max("l_suppkey").cast("bigint").alias("maxs"),
            F.max("l_orderkey").cast("bigint").alias("maxo"),
        )
    )
    keyed = li.crossJoin(bounds).selectExpr(
        "l_partkey",
        "l_suppkey",
        "maxp",
        "maxs",
        f"((l_partkey - 1) * {1 << ZORDER_BITS}) DIV maxp AS px",
        f"((l_suppkey - 1) * {1 << ZORDER_BITS}) DIV maxs AS sx",
        f"((l_orderkey - 1) * {ZORDER_FILES}) DIV maxo AS natural_file",
    )
    assigned = keyed.selectExpr(
        "l_partkey",
        "l_suppkey",
        "maxp",
        "maxs",
        "natural_file",
        f"(({_zorder_expr('px', 'sx', 'DIV')}) * {ZORDER_FILES}) "
        f"DIV {1 << (2 * ZORDER_BITS)} AS zorder_file",
    )
    # both layouts from ONE corpus pass: explode a 2-element
    # (layout, file) array per row instead of a union of two selects
    # over the same frame — the union shape re-scans lineitem per
    # branch (scan-leaf lint caught exactly that on this query's first
    # draft)
    stacked = assigned.selectExpr(
        "l_partkey",
        "l_suppkey",
        "maxp",
        "maxs",
        "explode(array(named_struct('layout', 'natural', 'f', natural_file), "
        "named_struct('layout', 'zorder', 'f', zorder_file))) AS lf",
    ).selectExpr(
        "lf.layout AS layout", "lf.f AS f", "l_partkey", "l_suppkey", "maxp", "maxs"
    )
    in_box = (
        "l_partkey BETWEEN (maxp * 7) DIV 16 AND (maxp * 9) DIV 16 "
        "AND l_suppkey BETWEEN (maxs * 7) DIV 16 AND (maxs * 9) DIV 16"
    )
    stats = stacked.groupBy("layout", "f").agg(
        F.min("l_partkey").alias("min_p"),
        F.max("l_partkey").alias("max_p"),
        F.min("l_suppkey").alias("min_s"),
        F.max("l_suppkey").alias("max_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr(f"CASE WHEN {in_box} THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_match"),
        F.max("maxp").alias("maxp"),
        F.max("maxs").alias("maxs"),
    )
    scanned = (
        "NOT (max_p < (maxp * 7) DIV 16 OR min_p > (maxp * 9) DIV 16 "
        "OR max_s < (maxs * 7) DIV 16 OR min_s > (maxs * 9) DIV 16)"
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.expr(f"CASE WHEN {scanned} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("files_scanned"),
            F.sum(F.expr(f"CASE WHEN {scanned} THEN n_rows ELSE 0 END"))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"),
        )
        .orderBy("layout")
    )
