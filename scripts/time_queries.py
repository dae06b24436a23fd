"""Isolated per-query timing + plan capture for optimization work.

Times named queries with the bench methodology (noop sink, smoke-scale
codegen warmup, best-of-N) and optionally writes their
``explain("formatted")`` output to <plans-dir>/<name>_<tag>.txt
(default plans/).

Usage:
    python scripts/time_queries.py [--sf DIR] [--n 3] [--plans-tag before] name...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plans-tag", default=None, help="write <plans-dir>/<name>_<tag>.txt")
    ap.add_argument("--plans-dir", default="plans")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from bench import materialize, stage_count
    from supabase_etl_spark.io.readers import TABLE_NAMES, load_table
    from supabase_etl_spark.queries import load_all
    from supabase_etl_spark.session import get_spark

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    for t in TABLE_NAMES:
        load_table(spark, args.sf, t).count()
    smoke_dir = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")

    for name in args.names:
        spec = registry[name]
        if args.plans_tag:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = spec.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans_dir, f"{name}_{args.plans_tag}.txt"), "w") as f:
                f.write(plan)
        if os.path.isdir(smoke_dir):
            materialize(spec.fn(spark, smoke_dir))  # codegen warmup
        best, walls = None, []
        # ADVICE r13: read each repetition's stage count IMMEDIATELY
        # after its run (the status tracker can evict old job info) and
        # report per-rep counts, not just the final rep's
        rep_stages: list[int] = []
        for i in range(args.n):
            group = f"time:{name}:{i}"
            spark.sparkContext.setJobDescription(name)
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            materialize(spec.fn(spark, args.sf))
            dt = time.time() - t0
            spark.sparkContext.setJobGroup("time:idle", "")
            walls.append(round(dt, 3))
            rep_stages.append(stage_count(spark, group))
            best = dt if best is None else min(best, dt)
        if best is None:
            print(f"{name}: plan captured", flush=True)
        else:
            print(
                f"{name}: best={best:.3f}s walls={walls} "
                f"stages={max(rep_stages)} rep_stages={rep_stages}",
                flush=True,
            )


if __name__ == "__main__":
    main()
