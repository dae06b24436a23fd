"""Local replica of the driver's correctness gate.

For every registered query: run the Spark plan and the DuckDB oracle on
the same parquet tables, canonicalize (sort columns by name, sort rows,
stringify values), and diff. Exit non-zero on any mismatch.

Usage:
    python scripts/check_correctness.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_value(v):
    """Canonical string for a cell value, engine-agnostic."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps full double precision; engines must match bitwise
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(columns, rows):
    """Sort columns by name, then rows lexicographically."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols_sorted = [columns[i] for i in order]
    out = sorted(tuple(canon_value(r[i]) for i in order) for r in rows)
    return cols_sorted, out


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table at ``sf_dir``."""
    from supabase_etl_spark.io.readers import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_duckdb(sql: str, sf_dir: str):
    con = oracle_connection(sf_dir)
    rel = con.sql(sql)
    # The driver hashes via pandas, where DuckDB HUGEINT (the default
    # SUM-of-integer result type) degrades to float64 and prints
    # "99111.0" against Spark's "99111" — a guaranteed hash mismatch
    # that fetchall()-based canon would hide. Fail loudly here instead.
    hugeint_cols = [
        c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()
    ]
    if hugeint_cols:
        raise ValueError(
            f"oracle emits HUGEINT columns {hugeint_cols} — wrap with "
            "CAST(... AS BIGINT) so the driver's pandas canon sees int64"
        )
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    return cols, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--max-diff", type=int, default=5)
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a stock SparkSession (none of the engine's session "
        "configs) — exactly what the driver's harness does",
    )
    ap.add_argument(
        "--json",
        metavar="PATH",
        help="also write per-query results as a JSON artifact (the "
        "committed full-gate record VERDICT r3 asked for: the driver "
        "snapshot sees only the first 50 queries alphabetically, so "
        "each round commits the full-registry gate as "
        "CORRECTNESS_local_rNN.json)",
    )
    args = ap.parse_args()

    from supabase_etl_spark.queries import load_all

    registry = load_all()
    names = args.names or sorted(registry)
    if args.json and set(names) != set(registry):
        # the committed per-round snapshot must be registry-complete BY
        # CONSTRUCTION (VERDICT r7 task 4): a name-restricted run may
        # not write the artifact, so a query added after the last full
        # gate can never ship inside a stale "full" snapshot
        missing = sorted(set(registry) - set(names))[:5]
        print(
            f"--json requires the full registry ({len(registry)} queries); "
            f"got {len(names)} (missing e.g. {missing}) — rerun without names"
        )
        return 2
    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from supabase_etl_spark.session import get_spark

        spark = get_spark("check-correctness")

    failures = []
    results: dict[str, dict] = {}
    for name in names:
        spec = registry[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"match": False, "err": f"spark: {e}"}
            continue
        finally:
            # dedup queries cache reused subplans; clear per query so a
            # full-registry run doesn't accumulate blocks (ADVICE r2)
            spark.catalog.clearCache()
        spark_t = time.time() - t0
        if spec.oracle is None:
            print(f"SKIP-ORACLE {name}: {len(s_rows)} rows ({spark_t:.1f}s, rows-only check)")
            results[name] = {
                "match": True,
                "rows": len(s_rows),
                "wall_s": round(spark_t, 2),
                "oracle": "rows-only",
            }
            continue
        try:
            d_cols, d_rows = run_duckdb(spec.oracle, args.sf)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"match": False, "err": f"duckdb: {e}"}
            continue
        sc, sr = canon_rows(s_cols, s_rows)
        dc, dr = canon_rows(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL {name}: schema mismatch spark={sc} duckdb={dc}")
            failures.append(name)
            results[name] = {"match": False, "err": "schema mismatch"}
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: row count spark={len(sr)} duckdb={len(dr)}")
            failures.append(name)
            results[name] = {"match": False, "err": "row count mismatch"}
            continue
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b]
        if diffs:
            print(f"FAIL {name}: {len(diffs)}/{len(sr)} rows differ; cols={sc}")
            for a, b in diffs[: args.max_diff]:
                print(f"   spark : {a}")
                print(f"   duckdb: {b}")
            failures.append(name)
            results[name] = {"match": False, "err": f"{len(diffs)} rows differ"}
        else:
            print(f"OK   {name}: {len(sr)} rows match ({spark_t:.1f}s)")
            results[name] = {
                "match": True,
                "rows": len(sr),
                "wall_s": round(spark_t, 2),
                "oracle": "hash",
            }

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    if args.json:
        import json

        assert set(results) == set(registry), "snapshot drifted from registry"
        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf": args.sf,
                    "n_queries": len(names),
                    "n_registry": len(registry),
                    "n_match": len(names) - len(failures),
                    "queries": results,
                },
                fh,
                indent=1,
                default=str,
            )
        print(f"wrote {args.json}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
