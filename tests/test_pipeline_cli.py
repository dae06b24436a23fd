"""Orchestration tests (reference op O1, etl.yml:4-28): the scheduler
CLI entry, run-time (not import-time) env fail-fast, and the
AvailableNow incremental pipeline with a persistent checkpoint.
"""

from __future__ import annotations

import json
import shutil
import uuid

import pytest

from supabase_etl_spark.plans.pipeline import (
    PipelineConfig,
    config_from_env,
    main,
    run_pipeline,
    run_pipeline_incremental,
    sdk_sources,
)

SF = "/root/testdata/sf0.001"


def test_config_from_env_fails_fast_at_run_not_import():
    with pytest.raises(RuntimeError, match="SUPABASE_URL"):
        config_from_env(env={})
    with pytest.raises(RuntimeError, match="SUPABASE_SERVICE_KEY"):
        config_from_env(env={"SUPABASE_URL": "http://x"})
    cfg = config_from_env(env={"SUPABASE_URL": "http://x/", "SUPABASE_SERVICE_KEY": "k"})
    assert cfg.rest_base_url == "http://x/rest/v1"
    # dry runs need no secrets at all
    dry = config_from_env(env={}, with_rest=False)
    assert dry.rest_base_url is None and len(dry.sources) == 3


def test_cli_end_to_end_against_mock_postgrest(spark, postgrest_mock, tmp_path, monkeypatch, capsys):
    """`python -m supabase_etl_spark.plans.pipeline` semantics: env
    secrets -> extract (SDK source) -> jsonb records -> CSV -> REST
    upsert -> storage upload, one JSON report line, exit code 0."""
    srv, store = postgrest_mock
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    monkeypatch.setenv("SUPABASE_URL", base)
    monkeypatch.setenv("SUPABASE_SERVICE_KEY", "test-key")
    rc = main(["--csv-dir", str(tmp_path / "csv")])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # reference table set: one per statement (etl_supabase.py:145-147)
    assert set(report) == {"fpt_income_statement", "fpt_balance_sheet", "fpt_cash_flow"}
    for tbl, metrics in report.items():
        assert metrics["rows"] > 0
        assert metrics["rest"]["rows"] == metrics["rows"]
        assert metrics["storage_object"] == f"etl/{tbl}.csv"
    rest_paths = [r["path"] for r in store["requests"] if r["path"].startswith("/rest")]
    assert f"/rest/v1/fpt_income_statement" in rest_paths
    storage_paths = [r["path"] for r in store["requests"] if r["path"].startswith("/storage")]
    assert any("fpt_cash_flow.csv" in p for p in storage_paths)
    # auth headers injected from env on every REST call (etl.yml:11-13);
    # urllib normalizes header casing on the wire — compare case-insensitively
    assert all(
        {k.lower(): v for k, v in r["headers"].items()}.get("apikey") == "test-key"
        for r in store["requests"]
        if r["path"].startswith("/rest")
    )


def test_row_count_fills_the_cache_in_one_job(spark):
    """A table's row count is one job: run_pipeline counts the persisted
    plan's rows, which fills the cache without DataFrame.count()'s
    aggregate shuffle (tests/test_pipeline_single_read.py shows that
    the sinks then read that cache)."""
    group = f"row-count-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "run_pipeline row count")
    try:
        report = run_pipeline(
            spark, PipelineConfig(sources={"t": sdk_sources("FPT")["fpt_cash_flow"]})
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert report == {"t": {"rows": 6}}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_incremental_availablenow_drains_only_new_files(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "bronze")

    shutil.copy(f"{SF}/events.parquet", src / "events.parquet")
    m1 = run_pipeline_incremental(spark, str(src), ckpt, out)
    n1 = m1["rows_ingested"]
    assert n1 > 0
    assert spark.read.parquet(out).count() == n1

    # run again with no new files: checkpoint says nothing to do
    m2 = run_pipeline_incremental(spark, str(src), ckpt, out)
    assert m2["rows_ingested"] == 0

    # a new file arrives; only it is processed
    shutil.copy(f"{SF}/events.parquet", src / "events2.parquet")
    m3 = run_pipeline_incremental(spark, str(src), ckpt, out)
    assert m3["rows_ingested"] == n1  # the second copy only
    assert spark.read.parquet(out).count() == 2 * n1
