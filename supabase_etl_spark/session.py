"""SparkSession factory.

Design stance (SURVEY.md §7.0): one session factory, no module-level env
coupling (the reference raises at import time if SUPABASE_SERVICE_KEY is
unset, etl_supabase.py:17-18 — we deliberately do not replicate that).

Scale posture: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), CBO on, UTC session timezone for deterministic
date semantics, Arrow enabled for the pandas-UDF slow path. On a real
cluster the same builder is used with a different master URL; nothing
here assumes local mode except the defaults pulled from the test
environment variables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "supabase-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target the test environment (local[N], N from
    SPARK_GRAFT_CPUS) but every knob is overridable for cluster
    deployment.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CBO has real inputs via catalog.register_catalog_tables +
        # analyze_tables (plan-shape proof: tests/test_catalog_stats.py);
        # path-based reads are covered by AQE's runtime stats instead.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP, not
        # TIMESTAMP_NTZ: one stable temporal type engine-wide (UTC session
        # tz makes the field values identical either way); applies to both
        # path reads and catalog external tables
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
