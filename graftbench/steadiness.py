#!/usr/bin/env python3
"""Spread of the end-to-end metrics over runs with different seeds.

Usage (from the repository root):
    python3 graftbench/steadiness.py [--runs 10] [--first-seed 1] [WORKLOAD ...]

For every workload (default: all in BENCHMARK.json) it makes --runs
untraced runs, seeds first-seed, first-seed+1, ..., and prints per metric
the median and the spread: the distance between the first and third
quartile (statistics.quantiles(values, n=4)) as a share of the median,
next to a third of the metric's bound. Raw results go to
.bench_build/graftbench/steadiness/<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out_dir = os.path.join(".bench_build", "graftbench", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    for w in a.workloads or [x["name"] for x in spec["workloads"]]:
        results = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-2000:]}")
            res = json.loads(r.stdout.splitlines()[-1])
            res["wall_s"] = time.time() - t0
            results.append(res)
            print(f"{w} seed {seed}: {res['wall_s']:.1f} s, "
                  f"failed {res['failed']}", file=sys.stderr)
        with open(os.path.join(out_dir, f"{w}.json"), "w") as f:
            json.dump(results, f, indent=1)
        walls = [r["wall_s"] for r in results]
        print(f"\n{w}: {len(results)} runs, failed ops {sum(r['failed'] for r in results)}, "
              f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        print(f"  {'metric':<18} {'median':>10} {'spread':>8} {'bound/3':>8}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if spread < bound / 3 else "  <-- wide"
            print(f"  {name:<18} {med:>10.4f} {spread:>8.3f} {bound / 3:>8.3f}{flag}")


if __name__ == "__main__":
    main()
