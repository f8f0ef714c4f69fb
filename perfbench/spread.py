#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over the stored results.

    python3 perfbench/spread.py [workload ...]

For every workload, reads perfbench/work/results/<workload>-seed*-trace0
.json and prints, per end-to-end metric, the median, the interquartile
range as a share of the median (statistics.quantiles, n=4), and that
spread against the metric's bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main(workloads):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = workloads or [w["name"] for w in bench["workloads"]]
    for w in names:
        runs = [json.load(open(p)) for p in sorted(glob.glob(
            os.path.join(BENCH, "work", "results", f"{w}-seed*-trace0.json")))]
        if not runs:
            continue
        print(f"{w}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "ok" if spread <= m["bound"] / 3 else (
                "within bound" if spread <= m["bound"] else "TOO WIDE")
            print(f"  {m['name']:18s} median {med:10.4f} {m['unit']:5s} "
                  f"spread {spread:6.3f} bound {m['bound']:.2f}  {flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
