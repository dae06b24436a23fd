"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

The headline set is the `bench=True` subset of the query registry — the
heavy relational/LLM operators, not the trivial projections. Each query
is timed by `time_query` (codegen warm-up at sf0.001, then best-of-2
noop-materialized runs); its DuckDB oracle SQL is timed right after it,
best-of-3 on one warmed connection, so both walls of every per-query
ratio share one session state. `ratio_total` is the Spark total over the
oracle total of the basis="ratio" queries. Codec-bound queries
(basis="absolute": the engine decodes real WAV/Y4M/BMP bytes while the
oracle replays the fixture's synthesis in SQL) report under
`codec_queries` instead, with the oracle wall kept as a diagnostic.

`stages` holds the distinct stages each query's last run launched,
streaming micro-batches included. The noop-action floor is sampled at
the start, every 8th query and the end (`floor_samples`); `load_factor`
= median sample / FLOOR_QUIET_REF, so a contended run labels itself.

Stdout gets ONE compact JSON line, so a reader that keeps only a bounded
tail of stdout still has it; the full payload goes to
$SPARK_GRAFT_BENCH_OUT, default bench_results.json.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid

# Quiet-machine run-long median noop floor (local[32], idle box). The
# runtime median divided by this reference is the run's `load_factor`.
# Re-baseline whenever the committed bench is regenerated on a quiet
# machine and the median moves materially.
FLOOR_QUIET_REF = 0.017


def materialize(df) -> None:
    """Run ``df`` through a noop-format write: evaluates EVERY output
    column and the final sort without collecting to the driver. A
    count() would let Catalyst prune unreferenced projections and
    eliminate the trailing orderBy (EliminateSorts), under-measuring
    map-heavy queries."""
    df.write.format("noop").mode("overwrite").save()


def best_of(n: int, fn) -> float:
    """Least wall of ``n`` calls of ``fn``."""
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def stage_count(spark, tag: str) -> int:
    """DISTINCT stages of the jobs tagged ``tag``. Distinct because AQE
    submits one job per materialized query stage and each job's
    stageIds re-lists its (skipped) ancestors. PySpark's StatusTracker
    has no tag lookup, so the ids come from the JVM tracker."""
    tracker = spark.sparkContext.statusTracker()
    jids = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForTag(tag)
    sids: set[int] = set()
    for jid in jids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            sids.update(info.stageIds)
    return len(sids)


def time_query(spark, spec, sf_dir: str, reps: int) -> list[tuple[float, int]]:
    """(wall, distinct stages) of each of ``reps`` runs of ``spec`` at
    ``sf_dir``; a run is plan build + noop write. The identical plan runs
    once first over the sf0.001 directory next to ``sf_dir`` when it
    exists, so codegen is compiled before the timed runs. Stages are
    counted by job tag, which streaming micro-batch threads inherit (the
    stream sets its own job group), and read right after each run,
    before the status tracker can evict its jobs."""
    smoke_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(smoke_dir):
        materialize(spec.fn(spark, smoke_dir))
    sc = spark.sparkContext
    runs = []
    for _ in range(reps):
        tag = f"time_query-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            t0 = time.time()
            materialize(spec.fn(spark, sf_dir))
            dt = time.time() - t0
        finally:
            sc.removeJobTag(tag)
        runs.append((dt, stage_count(spark, tag)))
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from scripts.check_correctness import oracle_connection
    from supabase_etl_spark.io.readers import TABLE_NAMES, load_table
    from supabase_etl_spark.queries import load_all
    from supabase_etl_spark.session import get_spark

    registry = load_all()
    bench_set = {n: s for n, s in registry.items() if s.bench}

    spark = get_spark("bench")
    # warmup: JVM/codegen paths, parquet footers, OS page cache for
    # every input table (timings then measure query compute, not
    # first-touch IO)
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    # the cheapest possible Spark action (range(1) → noop write):
    # scheduler + stage-launch + sink latency; it decays as the JVM
    # warms, hence sampled through the run
    floor_samples: list[float] = []

    def sample_floor() -> None:
        floor_samples.append(round(best_of(3, lambda: materialize(spark.range(1))), 4))

    sample_floor()

    con = oracle_connection(sf_dir)
    # oracle warmup: one pass over every oracle SQL populates DuckDB's
    # buffer pool and the OS page cache, matching the Spark warmup above
    for name in sorted(bench_set):
        if bench_set[name].oracle is not None:
            con.execute(bench_set[name].oracle).fetchall()

    timings: dict[str, float] = {}
    stages: dict[str, int] = {}
    oracle_timings: dict[str, float] = {}
    codec_oracle: dict[str, float] = {}
    total = 0.0
    for qi, name in enumerate(sorted(bench_set)):
        if qi and qi % 8 == 0:
            sample_floor()
        spec = bench_set[name]
        # best of 2: single-machine walls jitter 20-30% from GC and
        # compaction; the min is the stable estimator of the plan's cost
        runs = time_query(spark, spec, sf_dir, 2)
        best = min(wall for wall, _ in runs)
        stages[name] = runs[-1][1]
        timings[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.3f}s", flush=True)
        if spec.oracle is not None:
            sql = spec.oracle
            ob = best_of(3, lambda: con.execute(sql).fetchall())
            if spec.basis == "absolute":
                codec_oracle[name] = ob
            else:
                oracle_timings[name] = ob
        spark.catalog.clearCache()

    sample_floor()
    floor_median = statistics.median(floor_samples)

    # rows-only queries (oracle=None) have no denominator and stay out
    # of ratio_total's numerator too
    ratios: dict[str, float] = {}
    oracle_total = 0.0
    spark_matched_total = 0.0
    for name, ob in sorted(codec_oracle.items()):
        print(
            f"# codec-diagnostic {name}: synthesis-oracle {ob:.3f}s "
            f"(absolute-gated, engine {timings[name]:.3f}s)",
            flush=True,
        )
    for name, ob in sorted(oracle_timings.items()):
        ratios[name] = round(timings[name] / ob, 2) if ob > 0 else -1.0
        oracle_total += ob
        spark_matched_total += timings[name]
        print(
            f"# oracle {name}: {ob:.3f}s (ratio {ratios[name]:.2f}x over "
            f"{stages[name]} stages)",
            flush=True,
        )

    codec_queries = {
        n: timings[n]
        for n in sorted(bench_set)
        if bench_set[n].basis == "absolute"
    }
    payload = {
        "metric": "bench_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "codec_queries": codec_queries,
        "codec_total": round(sum(codec_queries.values()), 3),
        "codec_oracle_synthesis": {n: round(v, 3) for n, v in codec_oracle.items()},
        "basis": {n: bench_set[n].basis for n in sorted(bench_set)},
        "oracle": {n: round(v, 3) for n, v in oracle_timings.items()},
        "ratio": ratios,
        "stages": stages,
        "floor_median": round(floor_median, 4),
        "floor_samples": floor_samples,
        "floor_quiet_ref": FLOOR_QUIET_REF,
        "load_factor": round(floor_median / FLOOR_QUIET_REF, 2),
        "oracle_interleaved": True,
        "oracle_total": round(oracle_total, 3),
        "ratio_total": round(spark_matched_total / oracle_total, 3)
        if oracle_total > 0
        else -1.0,
        "sf": sf,
    }
    compact = {
        k: payload[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "codec_queries",
            "codec_total",
            "oracle_total",
            "ratio_total",
            "floor_median",
            "load_factor",
            "oracle_interleaved",
            "sf",
        )
    }
    print(json.dumps(compact), flush=True)
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(os.path.dirname(__file__), "bench_results.json")
    )
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
