"""Write PLANS.md: the formatted physical plan of every bench-flagged
query at sf0.01, so plan-shape claims (pushed filters, broadcast
choices, no nested-loop pair joins, partial aggregation) are inspectable
without re-running anything.

Usage: python scripts/dump_plans.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    from supabase_etl_spark.queries import load_all
    from supabase_etl_spark.session import get_spark

    spark = get_spark("dump-plans")
    registry = load_all()
    bench = {n: s for n, s in registry.items() if s.bench}

    lines = [
        "# PLANS — formatted physical plans of the bench headline queries",
        "",
        f"Generated by scripts/dump_plans.py at sf dir `{args.sf}`. AQE is",
        "enabled, so exchange/coalesce details can differ at runtime; join",
        "strategy, pushed filters, and aggregate modes shown here are the",
        "planned shapes the plan-shape tests assert.",
        "",
    ]
    for name in sorted(bench):
        plan = formatted_plan(bench[name].fn(spark, args.sf))
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]

    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}: {len(bench)} plans")


if __name__ == "__main__":
    main()
