"""Reader for Spark's JSON event log, rolled up by job group.

The benchmark sets a job group (``SparkContext.setJobGroup``) around
every span it times, and Spark copies the group into the properties of
each ``SparkListenerJobStart``. This module reads an uncompressed,
non-rolling event log (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``) and sums, per job group:

- jobs and stages, and each stage's submit/complete interval;
- task metrics: run time, CPU time, input bytes, shuffle bytes, spill
  and peak execution memory;
- SQL metrics reported through stage accumulables: ``scan time`` and
  the Python-worker metrics, plus the run time of RDD-API Python stages;
- stage launch delay: from stage submission to its first task launch;
- completed stages that read a source (each is one read of it).

Times come out in seconds, sizes in bytes.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# internal task-metric accumulator -> (field, scale to seconds/bytes)
_TASK_ACCUMS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.input.bytesRead": ("bytes_read", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
# SQL metric name -> (field, scale); SQL "timing" metrics are in ms
_SQL_ACCUMS = {
    "scan time": ("scan_s", 1e-3),
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
}
# RDDs that read a source: parquet/CSV files and DataSource V2 (which
# includes Python data sources)
_SOURCE_RDDS = ("FileScanRDD", "DataSourceRDD")


@dataclass
class GroupStats:
    """Everything the log says about one job group."""

    jobs: int = 0
    stages: int = 0
    source_stages: int = 0  # completed stages that read a source
    stage_launch_s: float = 0.0
    peak_exec_mem_bytes: int = 0
    sums: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    intervals_ms: list[tuple[int, int]] = field(default_factory=list)

    def get(self, key: str) -> float:
        return self.sums.get(key, 0.0)


def read_events(path: str):
    """Yield each event of a JSON-lines event log. A truncated last line
    (a log still being written) is skipped."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def _accum_value(acc: dict) -> float:
    try:
        return float(acc.get("Value", 0))
    except (TypeError, ValueError):
        return 0.0


def rollup(events) -> dict[str, GroupStats]:
    """Sum the log's jobs, stages and metrics per job group. Jobs
    without a group land under ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    first_launch_ms: dict[tuple[int, int], int] = {}
    python_stages: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            for st in ev.get("Stage Infos", []):
                if any(r.get("Name") == "PythonRDD" for r in st.get("RDD Info", [])):
                    python_stages.add(st["Stage ID"])
        elif kind == "SparkListenerTaskStart":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            launch = ev["Task Info"]["Launch Time"]
            first_launch_ms[key] = min(first_launch_ms.get(key, launch), launch)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stats = groups[stage_group.get(info["Stage ID"], "")]
            stats.stages += 1
            if any(r.get("Name") in _SOURCE_RDDS for r in info.get("RDD Info", [])):
                stats.source_stages += 1
            submitted = info.get("Submission Time")
            completed = info.get("Completion Time")
            if submitted is not None and completed is not None:
                stats.intervals_ms.append((submitted, completed))
                launch = first_launch_ms.get((info["Stage ID"], info["Stage Attempt ID"]))
                if launch is not None:
                    stats.stage_launch_s += max(0, launch - submitted) * 1e-3
            for acc in info.get("Accumulables", []):
                name = acc.get("Name", "")
                if name == "internal.metrics.peakExecutionMemory":
                    stats.peak_exec_mem_bytes = max(
                        stats.peak_exec_mem_bytes, int(_accum_value(acc))
                    )
                    continue
                target = _TASK_ACCUMS.get(name) or _SQL_ACCUMS.get(name)
                if target:
                    key, scale = target
                    stats.sums[key] += _accum_value(acc) * scale
                if name == "internal.metrics.executorRunTime" and info["Stage ID"] in python_stages:
                    # an RDD-API Python stage (e.g. foreachPartition) runs
                    # wholly in the Python worker and has no SQL metric
                    stats.sums["python_worker_s"] += _accum_value(acc) * 1e-3
    return dict(groups)


def union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        start, end = max(start, lo), min(end, hi)
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
