"""The event-log reader against a committed fragment of a real log: one
SDK table of one ``etl_daily`` pass (its count, CSV and REST spans)."""

from __future__ import annotations

import os

import pytest

from eventlog import read_events, rollup, union_ms

FRAGMENT = os.path.join(os.path.dirname(__file__), "data", "eventlog_fragment.jsonl")
TABLE = "p0/fpt_income_statement"


@pytest.fixture(scope="module")
def groups():
    return rollup(read_events(FRAGMENT))


def test_jobs_and_stages_attach_to_their_job_group(groups):
    assert set(groups) == {f"{TABLE}/count", f"{TABLE}/csv", f"{TABLE}/rest"}
    assert [groups[f"{TABLE}/{g}"].jobs for g in ("count", "csv", "rest")] == [2, 1, 1]
    assert [groups[f"{TABLE}/{g}"].stages for g in ("count", "csv", "rest")] == [2, 1, 1]


def test_each_action_reads_the_source_once(groups):
    # the count's second stage reads the shuffle, not the source
    assert sum(g.source_stages for g in groups.values()) == 3


def test_task_and_sql_metrics_are_summed_in_seconds_and_bytes(groups):
    count = groups[f"{TABLE}/count"]
    assert count.get("task_s") == pytest.approx(0.520)
    assert count.get("shuffle_write_bytes") == 171
    assert count.get("shuffle_read_bytes") == 171
    assert count.get("python_bytes_sent") == 53808
    assert count.stage_launch_s == pytest.approx(0.009)


def test_rdd_python_stage_counts_as_python_worker_time(groups):
    rest = groups[f"{TABLE}/rest"]
    assert rest.get("python_worker_s") == pytest.approx(rest.get("task_s")) == pytest.approx(0.855)
    assert groups[f"{TABLE}/csv"].get("python_worker_s") == 0


def test_stage_intervals_and_their_union(groups):
    count = groups[f"{TABLE}/count"]
    assert count.intervals_ms == [(1792178172230, 1792178172438), (1792178172455, 1792178172474)]
    lo, hi = 1792178172200, 1792178172500
    assert union_ms(count.intervals_ms, lo, hi) == 208 + 19


def test_union_merges_overlaps_and_clips():
    assert union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert union_ms([(0, 10), (5, 15), (20, 30)], 8, 25) == 7 + 5
    assert union_ms([], 0, 10) == 0


def test_truncated_last_line_is_skipped(tmp_path):
    lines = open(FRAGMENT, encoding="utf-8").read().splitlines()
    path = tmp_path / "log"
    path.write_text("\n".join(lines) + '\n{"Event": "SparkListenerJobSt', encoding="utf-8")
    assert len(list(read_events(str(path)))) == len(lines)
