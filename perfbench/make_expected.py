"""Regenerate ``expected.json``: the committed result hash of every query
row the benchmark runs, on the tables the benchmark holds in ``data/``.

For each row the hash comes from the DuckDB oracle (the row's
``oracle`` SQL over the same parquet files) when the oracle exists and
agrees with the engine, and from the engine otherwise; ``basis`` says
which. Run from the checkout root:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from harness import prepare_env, start_spark, stop_spark  # noqa: E402
from workloads import EXPECTED_PATH, QUERY_ROWS, data_dir, result_hash  # noqa: E402


def run_duckdb(sql: str, sf_dir: str):
    """The row's oracle SQL over the tables the benchmark holds at
    ``sf_dir`` (a subset of the ten; the correctness script's own runner
    expects all of them)."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, name)}')")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def main() -> int:
    from supabase_etl_spark.queries import load_all

    prepare_env()
    registry = load_all()
    spark, _ = start_spark("perfbench-expected")
    out = {"rows": {}}
    try:
        for name, sf, _ in QUERY_ROWS:
            sf_dir = data_dir(sf)
            spec = registry[name]
            df = spec.fn(spark, sf_dir)
            result = [tuple(r) for r in df.collect()]
            engine = result_hash(df.columns, result)
            spark.catalog.clearCache()
            basis, note = "engine", "no oracle SQL"
            if spec.oracle:
                cols, oracle_rows = run_duckdb(spec.oracle, sf_dir)
                if result_hash(cols, oracle_rows) == engine:
                    basis, note = "oracle", ""
                else:
                    note = "oracle disagrees with the engine"
            out["rows"][name] = {
                "sf": sf, "rows": len(result),
                "sha256": engine, "basis": basis, "note": note,
            }
            print(f"{name}: {len(result)} rows, basis={basis} {note}", flush=True)
    finally:
        stop_spark(spark)
    with open(EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
