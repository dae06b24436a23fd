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

Python workers. Every Python task (a UDF, `mapInPandas`, an RDD lambda,
the SDK source's reader, the REST sink's `foreachPartition`) pays a fixed
start cost at the JVM/Python boundary, whatever its data size. At the
start of each task `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`, which on CPython 3.10-3.11 re-reads the
directory of `pyspark.zip` (1,328 entries) and the spark-core jar (5,359
entries) once per cached importer: 16 reads, 0.15-0.28 s per task on 4
cores, against microseconds of codec work per benchmark task. The
sessions built here run their workers under `supabase_etl_spark.pydaemon`
(Spark's `spark.python.daemon.module`), which re-reads an archive only
when it changed: 0 reads, about 0.2 ms. On the benchmark (`perfbench`,
seed 3, traced, 4 cores) `python.worker_s` fell from 3.35 to 0.81 s on
`queries` and from 1.94 to 1.00 s on `etl_daily`. A trivial
`mapInPandas` task still waits 0.10-0.17 s from submit to its function.
Spark's data-source planner runners (`create_data_source`,
`plan_data_source_read`) start their workers under `pyspark.daemon`
whatever this setting says, so they still pay the re-read.

Contract: Python workers import this package. `get_spark` puts the
directory holding it (`PACKAGE_ROOT`) first on the workers' PYTHONPATH
(`spark.executorEnv.PYTHONPATH`, merged with a value passed in
`extra_conf`), so a session works from any working directory with
PYTHONPATH unset. On a cluster the package must be importable on the
executors at that path or through `extra_conf`'s PYTHONPATH; passing
`{"spark.python.daemon.module": "pyspark.daemon"}` restores Spark's daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package; workers import it, and the daemon, from here
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        # parquet TIMESTAMP(NANOS) reads as int64 instead of failing the
        # scan; io/readers.py truncates it to a micros TIMESTAMP
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.python.daemon.module", "supabase_etl_spark.pydaemon")
    )
    conf = dict(extra_conf or {})
    paths = conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [PACKAGE_ROOT, *(p for p in paths if p and p != PACKAGE_ROOT)]
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
