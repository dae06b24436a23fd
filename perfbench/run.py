"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload etl_daily|queries \
        --seed N --seconds S --trace 0|1

Load model: a closed loop with one client. One Python process runs one
operation (a registry query or a pipeline table) at a time, on a
``local[SPARK_GRAFT_CPUS]`` session (default: nproc). ``--seed`` picks
the SDK ticker and shuffles the order of operations in each pass;
the table contents are fixed (``data/``: copies of the repository's
seed-42 fixtures), so committed result hashes hold for every seed.

A run: a first set-up that launches the JVM, then five more in that JVM
(each stops the session, builds a new one with ``session.get_spark`` and
registers the workload's inputs; the last one is kept), one untimed
check pass whose outputs are compared with ``expected.json``, untimed
warm-up passes (``warmup_passes``), then timed passes until
``--seconds`` have passed (at least two). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns Spark's event log on, sets a job
group around every span, alternates traced and untraced passes, and
prints the per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A wrong output makes
the exit code 1; a checkout without the package makes it 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, then the checkout root

from harness import (  # noqa: E402
    ROOT, WORK, Tracer, cpu_ticks, git_commit, jvm_pid, load1, median, peak_rss_mb,
    prepare_env, start_spark, stop_spark, steal_pct, withheld_share,
)

SETUPS = 5
MIN_PASSES = 2
STEAL_CONTENDED_PCT = 2.0


def _labels(workload: str, seed: int) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": git_commit(),
        "load1_start": load1(),
    }


def op_run_s(passes: list[dict], pick=min, wall: bool = False) -> float:
    """Wall of one pass: the sum over operations of each operation's least
    unstolen wall (``Span.unstolen_s``) across the given passes.
    ``wall=True`` sums raw walls; ``pick=median`` gives the typical pass."""
    ops = {op for p in passes for op in p}
    return sum(pick([p[op].wall_s if wall else p[op].unstolen_s for p in passes if op in p])
               for op in ops)


def set_up(workload, event_log_dir: str | None):
    """Launch the JVM with a first set-up, then set up ``SETUPS`` more
    times in it (stop the session, build a new one, register the inputs)
    and keep the last session. Returns the session, the first set-up's
    (session start, input warm-up) seconds and those of the others."""
    samples = []
    spark = None
    for i in range(SETUPS + 1):
        if spark is not None:
            spark.stop()
        spark, start_s = start_spark(f"perfbench-{workload.name}", event_log_dir)
        t0 = time.perf_counter()
        workload.warm_inputs(spark)
        samples.append((start_s, time.perf_counter() - t0))
    return spark, samples[0], samples[1:]


@dataclass
class Timed:
    traced: list = field(default_factory=list)  # per traced pass: {op: wall}
    untraced: list = field(default_factory=list)
    tracers: list = field(default_factory=list)  # one per traced pass
    passes: int = 0
    attempted: int = 0
    jvm_gc_ms: float = 0.0
    warmup_s: float = 0.0
    wall_s: float = 0.0
    pins: object = None
    steal_pct: float = 0.0
    withheld: float = 0.0
    pass_steal_pct: list = field(default_factory=list)


def timed_passes(workload, spark, seconds: float, trace: bool, problems: list[str]) -> Timed:
    """``workload.warmup_passes`` untimed passes, then a closed loop of
    whole passes until ``seconds`` have passed and at least ``MIN_PASSES``
    ran. A traced run traces even passes and leaves odd ones untraced."""
    from pinspy import PinSpy

    out = Timed(pins=PinSpy() if trace else None)
    t0 = time.perf_counter()
    for _ in range(workload.warmup_passes):
        n_problems = len(problems)
        out.attempted += len(workload.run_pass(spark, Tracer(), problems))
        out.attempted += len(problems) - n_problems
    out.warmup_s = time.perf_counter() - t0
    workload.endpoint.counters.reset()  # the sink counters cover timed passes only
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    i = 0
    while i < MIN_PASSES or time.perf_counter() < t0 + seconds:
        pass_ticks0 = cpu_ticks()
        on = trace and i % 2 == 0
        tracer = Tracer(spark.sparkContext if on else None)
        if on:
            out.pins.active = True
            gc0 = _jvm_gc_ms(spark)
        n_problems = len(problems)
        tracer.begin(f"p{i}")
        walls = workload.run_pass(spark, tracer, problems)
        tracer.end()
        out.attempted += len(walls) + len(problems) - n_problems
        if on:
            out.pins.active = False
            out.jvm_gc_ms += _jvm_gc_ms(spark) - gc0
            out.traced.append(walls)
            out.tracers.append(tracer)
        else:
            out.untraced.append(walls)
        out.pass_steal_pct.append(steal_pct(pass_ticks0, cpu_ticks()))
        i += 1
    if out.pins:
        out.pins.uninstall()
    out.passes = i
    out.wall_s = time.perf_counter() - t0
    ticks1 = cpu_ticks()
    out.steal_pct = steal_pct(ticks0, ticks1)
    out.withheld = withheld_share(ticks0, ticks1)
    return out


def _jvm_gc_ms(spark) -> float:
    """Collection time of every JVM garbage collector so far (driver and
    executors share the JVM in local mode)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import supabase_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.NAMES)}", file=sys.stderr)
        return 2

    prepare_env()
    labels = _labels(args.workload, args.seed)
    workload = workloads.make(args.workload)
    workload.prepare(args.seed)
    event_log_dir = None
    if args.trace:
        event_log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(event_log_dir, ignore_errors=True)

    problems: list[str] = []
    from endpoint import MockEndpoint

    phases = {"prepare": time.perf_counter() - T0}
    with MockEndpoint() as endpoint:
        workload.endpoint = endpoint
        t = time.perf_counter()
        spark, first_setup, setups = set_up(workload, event_log_dir)
        phases["setup"] = time.perf_counter() - t
        try:
            t = time.perf_counter()
            attempted = workload.check(spark, problems)
            n_check_failed = len(problems)
            phases["check"] = time.perf_counter() - t
            timed = timed_passes(workload, spark, args.seconds, bool(args.trace), problems)
            labels["peak_rss_mb"] = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid() or -1)
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            phases["stop"] = time.perf_counter() - t
        endpoint_stats = endpoint.counters.snapshot()
    phases["warmup"] = timed.warmup_s
    phases["timed"] = timed.wall_s
    labels["phase_s"] = {k: round(v, 2) for k, v in phases.items()}

    passes = timed.traced + timed.untraced
    attempted += timed.attempted
    failed = len(problems)
    labels["load1_end"] = load1()
    labels["steal_pct"] = round(timed.steal_pct, 2)
    labels["pass_steal_pct"] = [round(x, 2) for x in timed.pass_steal_pct]
    labels["withheld_pct"] = round(100 * timed.withheld, 2)
    # The end load includes this run's own work, so only the start decides.
    # CPU time the hypervisor gave to other guests during the timed passes
    # slows every pass without raising the load average.
    labels["contended"] = (labels["load1_start"] > (os.cpu_count() or 1)
                           or timed.steal_pct > STEAL_CONTENDED_PCT)
    labels["passes"] = timed.passes
    labels["check_failed"] = n_check_failed

    if args.trace:
        import layers

        metrics = layers.per_layer(
            workload=workload, first_setup=first_setup, setups=setups, timed=timed,
            event_log_dir=event_log_dir, endpoint_stats=endpoint_stats,
            peak_rss_mb=labels["peak_rss_mb"],
        )
        shutil.rmtree(event_log_dir, ignore_errors=True)  # tens of MB per run
    else:
        run_s = op_run_s(passes)
        samples = sorted(s.wall_s for p in passes for s in p.values())
        labels["op_samples"] = len(samples)
        labels["op_wall_median_s"] = median(samples)
        labels["run_s_wall"] = op_run_s(passes, wall=True)
        labels["run_s_median_pass"] = op_run_s(passes, pick=median, wall=True)
        # highest percentile with at least ten samples beyond it
        if len(samples) >= 20:
            k = len(samples) - 10
            labels[f"op_wall_p{100 * k // len(samples)}_s"] = samples[k - 1]
        metrics = {
            "run_s": {"value": run_s, "unit": "s"},
            "setup_s": {"value": median(a + b for a, b in setups), "unit": "s"},
            "rows_per_s": {"value": workload.delivered_rows(endpoint_stats, timed.passes)
                           / run_s if run_s else 0.0, "unit": "1/s"},
        }
    labels["error_rate"] = failed / attempted if attempted else 1.0
    for p in problems:
        print(f"FAILED {p}")
    for op in sorted({op for p in passes for op in p}):
        print(f"op {op} walls_s " + " ".join(f"{p[op].wall_s:.3f}" for p in passes if op in p)
              + " withheld_pct " + " ".join(f"{100 * p[op].withheld:.1f}"
                                            for p in passes if op in p))
    print("labels " + json.dumps(labels, sort_keys=True))
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
