"""End-to-end runs of the benchmark command, one short run per workload.

Each starts Spark, so the module takes a few minutes:
``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int = 0) -> tuple[int, list[str]]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    return out.returncode, out.stdout.strip().splitlines()


def test_metric_list_matches_the_code():
    from layers import METRICS
    from workloads import NAMES

    spec = _spec()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == METRICS
    assert [w["name"] for w in spec["workloads"]] == list(NAMES)


@pytest.mark.parametrize("workload", ["etl_daily", "queries"])
def test_short_run_is_correct_and_reports_every_metric(workload):
    code, lines = _run(ROOT, workload)
    result = json.loads(lines[-1])
    assert code == 0, lines
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    labels = json.loads(next(line for line in lines if line.startswith("labels "))[7:])
    assert labels["error_rate"] == 0
    assert {"nproc", "SPARK_GRAFT_CPUS", "commit", "load1_start", "load1_end",
            "steal_pct", "withheld_pct", "contended"} <= set(labels)


def test_traced_run_reports_every_layer():
    code, lines = _run(ROOT, "queries", trace=1)
    result = json.loads(lines[-1])
    assert code == 0 and result["correct"], lines
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in _spec()["per_layer"]}
    assert metrics["pinning.pins"]["value"] > 0
    assert metrics["queries.build_jobs"]["value"] > 0
    assert metrics["trace.max_unattributed_pct"]["value"] < 10


def test_fails_without_the_engine_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    code, lines = _run(str(tmp_path), "queries")
    assert code != 0
    assert not any(line.startswith("{") for line in lines)
