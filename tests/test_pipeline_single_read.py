"""run_pipeline extracts each table once (ROADMAP item 4).

The row count fills the table's cached records, the CSV write and the
REST upsert read the cache, and the cache is released when the table
is done, also when a sink fails. The sources here count their
own reads with an accumulator: one increment per source partition
computed, so a table read once adds exactly its partition count.
"""

from __future__ import annotations

import pytest

from supabase_etl_spark.plans.pipeline import PipelineConfig, run_pipeline

CHUNK = 10


def _counting_source(spark, n_rows: int, n_parts: int):
    """A source of `n_rows` rows in `n_parts` partitions, shaped like the
    SDK tables (CP, Năm, metric), and the accumulator its reads add to."""
    reads = spark.sparkContext.accumulator(0)

    def extract(batches):
        reads.add(1)
        for pdf in batches:
            yield pdf.assign(CP="FPT", **{"Năm": 2000 + pdf["id"] % 20, "v": pdf["id"] * 0.5})

    def source(s):
        return s.range(0, n_rows, 1, n_parts).mapInPandas(
            extract, "id long, CP string, `Năm` long, v double"
        )

    return source, reads


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _config(sources, srv, tmp_path) -> PipelineConfig:
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    return PipelineConfig(
        sources=sources,
        csv_dir=str(tmp_path / "csv"),
        rest_base_url=f"{base}/rest/v1",
        rest_api_key="k",
        storage_base_url=f"{base}/storage/v1",
        chunk_size=CHUNK,
    )


def _csv_data_lines(csv_dir) -> int:
    part = next(p for p in csv_dir.iterdir() if p.suffix == ".csv")
    with open(part, encoding="utf-8") as fh:
        return sum(1 for _ in fh) - 1


def test_one_extraction_per_table(spark, postgrest_mock, tmp_path):
    srv, store = postgrest_mock
    # "one_part" posts 10 batches from its single partition
    shapes = {"multi": (25, 3), "one_part": (95, 1), "empty": (0, 1)}
    sources, reads = {}, {}
    for table, (n_rows, n_parts) in shapes.items():
        sources[table], reads[table] = _counting_source(spark, n_rows, n_parts)
    before = _persistent_rdd_ids(spark)

    report = run_pipeline(spark, _config(sources, srv, tmp_path))

    posts: dict[str, list] = {}
    for r in store["requests"]:
        if r["path"].startswith("/rest/v1/"):
            posts.setdefault(r["path"].rsplit("/", 1)[1], []).append(r["rows"])
    for table, (n_rows, n_parts) in shapes.items():
        m = report[table]
        if n_rows:  # an empty range plans no partition to read
            assert reads[table].value == n_parts, f"{table}: source read more than once"
        assert m["rows"] == m["rest"]["rows"] == n_rows
        assert _csv_data_lines(tmp_path / "csv" / table) == n_rows
        assert m["storage_object"] == f"etl/{table}.csv"
        assert all(len(batch) <= CHUNK for batch in posts.get(table, []))
        ids = sorted(row["data"]["id"] for batch in posts.get(table, []) for row in batch)
        assert ids == list(range(n_rows))

    assert report["empty"]["rest"] == {"rows": 0, "batches": 0, "retries": 0}
    assert "empty" not in posts
    assert _persistent_rdd_ids(spark) <= before


def test_cached_records_released_when_a_sink_fails(spark, postgrest_mock, tmp_path):
    srv, store = postgrest_mock
    store["fail_next"]["/rest/v1/bad"] = [400]
    source, _ = _counting_source(spark, 30, 2)
    before = _persistent_rdd_ids(spark)

    with pytest.raises(Exception):
        run_pipeline(spark, _config({"bad": source}, srv, tmp_path))

    assert _persistent_rdd_ids(spark) <= before
