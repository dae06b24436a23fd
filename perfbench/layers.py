"""Per-layer metrics of a traced run, one value per traced pass (mean over
the traced passes) unless the name says otherwise.

Layer names are the engine's module names. Times are seconds, so a layer
that does not run on a workload reads 0 and a layer that gets faster
moves only its own figure. README.md says which end-to-end metric each
one should move, on which workload.
"""

from __future__ import annotations

import glob
import os
from statistics import fmean

from eventlog import read_events, rollup, union_ms
from harness import median
from workloads import QUERY_ROWS

# (name, unit, better)
METRICS: list[tuple[str, str, str]] = [
    ("session.jvm_start_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("io.readers.warmup_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("pinning.pins", "count", "lower"),
    ("pinning.eager_pins", "count", "lower"),
    ("exec.action_s", "s", "lower"),
    ("exec.scan_s", "s", "lower"),
    ("exec.bytes_read", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.driver_gap_s", "s", "lower"),
    ("exec.stage_launch_s", "s", "lower"),
    ("exec.floor_pct", "%", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.peak_exec_mem_bytes", "bytes", "lower"),
    ("mem.peak_rss_mb", "MiB", "lower"),
    ("python.worker_s", "s", "lower"),
    ("python.bytes_sent", "bytes", "lower"),
    ("pipeline.jobs_per_table", "count", "lower"),
    ("pipeline.source_reads_per_table", "count", "lower"),
    ("pipeline.count_s", "s", "lower"),
    ("pipeline.sdk_table_s", "s", "lower"),
    ("pipeline.bulk_table_s", "s", "lower"),
    ("io.writers.write_csv_s", "s", "lower"),
    ("io.writers.csv_bytes", "bytes", "lower"),
    ("io.rest_sink.upsert_rest_s", "s", "lower"),
    ("io.rest_sink.requests", "count", "lower"),
    ("io.rest_sink.batches", "count", "lower"),
    ("io.rest_sink.retries", "count", "lower"),
    ("io.rest_sink.bytes_per_row", "bytes", "lower"),
    ("io.rest_sink.upload_to_storage_s", "s", "lower"),
    ("io.rest_sink.storage_bytes", "bytes", "lower"),
    ("endpoint.busy_s", "s", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("trace.max_unattributed_pct", "%", "lower"),
] + [
    (f"q.{row}.{kind}", unit, "lower")
    for row, _, _ in QUERY_ROWS
    for kind, unit in (("wall_s", "s"), ("stages", "count"))
]

_ACTION_SPANS = ("action", "count", "csv", "rest")


def _latest_log(event_log_dir: str) -> str:
    """The kept session's log: the newest application in the directory."""
    logs = [p for p in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(p)]
    return max(logs, key=os.path.getmtime)


def _under(groups: dict, prefix: str):
    return [(g, s) for g, s in groups.items() if g == prefix or g.startswith(prefix + "/")]


def per_layer(*, workload, first_setup, setups, timed, event_log_dir, endpoint_stats,
              peak_rss_mb) -> dict[str, dict]:
    from run import op_run_s

    traced, untraced, tracers, pins = timed.traced, timed.untraced, timed.tracers, timed.pins
    groups = rollup(read_events(_latest_log(event_log_dir)))
    k = len(tracers)
    v: dict[str, float] = {name: 0.0 for name, _, _ in METRICS}
    spans = [s for t in tracers for s in t.spans]
    pass_spans = [s for s in spans if s.parent is None]
    op_spans = [s for s in spans if s.parent is not None and s.parent.count("/") == 0]
    leaf = [s for s in spans if s.parent is not None and s.parent.count("/") == 1]
    pass_wall = sum(s.wall_s for s in pass_spans)

    v["session.jvm_start_s"] = first_setup[0]
    v["session.start_s"] = median(a for a, _ in setups)
    v["io.readers.warmup_s"] = median(b for _, b in setups)
    v["queries.build_s"] = sum(s.wall_s for s in leaf if s.name == "build") / k
    v["exec.action_s"] = sum(s.wall_s for s in leaf if s.name in _ACTION_SPANS) / k
    v["pinning.pins"] = pins.pins / k
    v["pinning.eager_pins"] = pins.eager_pins / k
    v["exec.gc_s"] = timed.jvm_gc_ms / 1000 / k
    v["mem.peak_rss_mb"] = peak_rss_mb

    gap_s = 0.0
    for p in pass_spans:
        members = _under(groups, p.path)
        intervals = [iv for _, s in members for iv in s.intervals_ms]
        gap_s += p.wall_s - union_ms(intervals, p.start_ms, p.end_ms) / 1000
        for g, s in members:
            v["exec.jobs"] += s.jobs
            v["exec.stages"] += s.stages
            v["exec.stage_launch_s"] += s.stage_launch_s
            v["exec.peak_exec_mem_bytes"] = max(v["exec.peak_exec_mem_bytes"],
                                               s.peak_exec_mem_bytes)
            if g.endswith("/build"):
                v["queries.build_jobs"] += s.jobs
            for key, name in (
                ("scan_s", "exec.scan_s"), ("bytes_read", "exec.bytes_read"),
                ("shuffle_write_bytes", "exec.shuffle_write_bytes"),
                ("shuffle_read_bytes", "exec.shuffle_read_bytes"),
                ("spill_bytes", "exec.spill_bytes"), ("task_s", "exec.task_s"),
                ("task_cpu_s", "exec.task_cpu_s"),
                ("python_worker_s", "python.worker_s"),
                ("python_bytes_sent", "python.bytes_sent"),
            ):
                v[name] += s.get(key)
    for name in ("exec.jobs", "exec.stages", "exec.stage_launch_s", "queries.build_jobs",
                 "exec.scan_s", "exec.bytes_read", "exec.shuffle_write_bytes",
                 "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.task_s",
                 "exec.task_cpu_s", "python.worker_s", "python.bytes_sent"):
        v[name] /= k
    v["exec.driver_gap_s"] = gap_s / k
    v["exec.floor_pct"] = 100 * (v["exec.driver_gap_s"] + v["exec.stage_launch_s"]) / (pass_wall / k)

    for op in op_spans:
        children = sum(s.wall_s for s in leaf if s.parent == op.path)
        v["trace.max_unattributed_pct"] = max(
            v["trace.max_unattributed_pct"], 100 * (op.wall_s - children) / op.wall_s)

    # medians: traced and untraced passes differ in number, and the least
    # of more samples reads lower
    traced_run_s = op_run_s(traced, pick=median, wall=True)
    if untraced:
        base = op_run_s(untraced, pick=median, wall=True)
        v["trace.overhead_pct"] = 100 * (traced_run_s - base) / base

    if workload.name == "queries":
        for row in workload.rows:
            walls = [p[row].wall_s for p in traced if row in p]
            v[f"q.{row}.wall_s"] = median(walls)
            v[f"q.{row}.stages"] = sum(
                s.stages for p in pass_spans for _, s in _under(groups, f"{p.path}/{row}")) / k
    else:
        _pipeline(v, workload, groups, op_spans, leaf, k,
                  n_passes=timed.passes, endpoint_stats=endpoint_stats)
    return {name: {"value": v[name], "unit": unit} for name, unit, _ in METRICS}


def _pipeline(v, workload, groups, op_spans, leaf, k, *, n_passes, endpoint_stats) -> None:
    """Pipeline and sink metrics. Span times are seconds per traced pass;
    ``pipeline.sdk_table_s`` and ``pipeline.bulk_table_s`` are the mean
    seconds of one table of that kind; endpoint counters cover every timed
    pass, traced or not."""
    tables = len(op_spans) or 1
    by_kind: dict[bool, list[float]] = {True: [], False: []}
    for op in op_spans:
        members = _under(groups, op.path)
        v["pipeline.jobs_per_table"] += sum(s.jobs for _, s in members) / tables
        v["pipeline.source_reads_per_table"] += sum(s.source_stages for _, s in members) / tables
        by_kind[workload.is_bulk(op.name)].append(op.wall_s)
    v["pipeline.bulk_table_s"] = fmean(by_kind[True]) if by_kind[True] else 0.0
    v["pipeline.sdk_table_s"] = fmean(by_kind[False]) if by_kind[False] else 0.0
    for span_name, key in (("count", "pipeline.count_s"), ("csv", "io.writers.write_csv_s"),
                           ("rest", "io.rest_sink.upsert_rest_s"),
                           ("storage", "io.rest_sink.upload_to_storage_s")):
        v[key] = sum(s.wall_s for s in leaf if s.name == span_name) / k
    v["io.writers.csv_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(workload.csv_dir) for f in files if f.endswith(".csv"))
    ep = endpoint_stats
    v["io.rest_sink.requests"] = ep["rest_requests"] / n_passes
    batches = sum(workload.pass_batches[-n_passes:])
    v["io.rest_sink.batches"] = batches / n_passes
    v["io.rest_sink.retries"] = (ep["rest_requests"] - batches) / n_passes
    v["io.rest_sink.bytes_per_row"] = ep["rest_bytes"] / max(1, ep["rows"])
    v["io.rest_sink.storage_bytes"] = ep["storage_bytes"] / n_passes
    v["endpoint.busy_s"] = ep["busy_s"] / n_passes
