"""Run one workload over several seeds and report each metric's median and
spread (interquartile range over median), the acceptance test applied
to the benchmark: every end-to-end spread except ``setup_s`` must stay
within the metric's bound in BENCHMARK.json.

    python3 perfbench/stability.py --workload queries --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    first, last = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t0 = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        labels = json.loads(next(x for x in lines if x.startswith("labels "))[7:])
        print(f"seed {seed}: exit {out.returncode} wall {wall:.1f}s correct={result['correct']} "
              f"steal {labels['steal_pct']}% "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()
                         if k in bounds or args.trace), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        bound = bounds.get(name)
        s = spread(vals) if len(vals) >= 2 else float("nan")
        verdict = "" if bound is None else ("ok" if s <= bound / 3 else
                                            "within bound" if s <= bound else "TOO WIDE")
        print(f"{name:<44} median {statistics.median(vals):>12.5g}  spread {s:7.3f}"
              f"  bound {bound}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
