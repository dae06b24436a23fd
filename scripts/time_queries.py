"""Isolated per-query timing + plan capture for optimization work.

Times named queries with bench.py's ``time_query`` (noop sink,
smoke-scale codegen warmup, N timed runs) and optionally writes their
``explain("formatted")`` output to <plans-dir>/<name>_<tag>.txt
(default plans/).

Usage:
    python scripts/time_queries.py [--sf DIR] [--n 3] [--plans-tag before] name...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plans-tag", default=None, help="write <plans-dir>/<name>_<tag>.txt")
    ap.add_argument("--plans-dir", default="plans")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args(argv)

    from bench import time_query
    from scripts.dump_plans import formatted_plan
    from supabase_etl_spark.io.readers import TABLE_NAMES, load_table
    from supabase_etl_spark.queries import load_all
    from supabase_etl_spark.session import get_spark

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    for t in TABLE_NAMES:
        load_table(spark, args.sf, t).count()

    for name in args.names:
        spec = registry[name]
        if args.plans_tag:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{name}_{args.plans_tag}.txt"), "w") as f:
                f.write(formatted_plan(spec.fn(spark, args.sf)))
        runs = time_query(spark, spec, args.sf, args.n)
        if not runs:
            print(f"{name}: plan captured", flush=True)
            continue
        walls = [round(wall, 3) for wall, _ in runs]
        rep_stages = [n for _, n in runs]
        print(
            f"{name}: best={min(walls):.3f}s walls={walls} "
            f"stages={max(rep_stages)} rep_stages={rep_stages}",
            flush=True,
        )


if __name__ == "__main__":
    main()
