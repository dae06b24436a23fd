"""The one query-timing path: ``bench.time_query`` and the
``scripts/time_queries.py`` front end over it."""

from __future__ import annotations

import re
from types import SimpleNamespace

from conftest import SF_SMOKE

from bench import time_query


def test_time_query_counts_streaming_micro_batch_stages(spark, tmp_path):
    """A query that drains an AvailableNow stream while it builds has the
    micro-batch's stages in its count: the micro-batch thread runs under
    the stream's own job group, but it inherits the caller's job tag."""
    zone = str(tmp_path / "zone")
    spark.range(10).write.parquet(zone)
    run_ids: list[str] = []

    def fn(spark, _sf_dir):
        q = (
            spark.readStream.schema("id bigint")
            .parquet(zone)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ck{len(run_ids)}"))
            .start()
        )
        q.awaitTermination()
        run_ids.append(str(q.runId))
        return spark.range(1)

    [(wall, stages)] = time_query(spark, SimpleNamespace(fn=fn), str(tmp_path), 1)
    tracker = spark.sparkContext.statusTracker()
    stream_stages = {
        sid
        for jid in tracker.getJobIdsForGroup(run_ids[-1])
        for sid in tracker.getJobInfo(jid).stageIds
    }
    assert wall > 0 and stream_stages
    # the micro-batch's stages plus the range(1) write's own stage
    assert stages >= len(stream_stages) + 1


def test_time_queries_main_prints_timing_and_writes_plan(spark, tmp_path, monkeypatch, capsys):
    from scripts import time_queries

    monkeypatch.setattr("supabase_etl_spark.session.get_spark", lambda *a, **k: spark)
    time_queries.main(
        ["--sf", SF_SMOKE, "--n", "1", "--plans-tag", "t", "--plans-dir", str(tmp_path),
         "q1_pricing_summary"]
    )
    out = capsys.readouterr().out
    m = re.search(r"q1_pricing_summary: best=([\d.]+)s walls=\[[\d.]+\] stages=(\d+)", out)
    assert m, out
    assert float(m[1]) > 0 and int(m[2]) > 0
    assert "Physical Plan" in (tmp_path / "q1_pricing_summary_t.txt").read_text()
