#!/usr/bin/env python3
"""Steadiness tool: run one workload N times, each with another seed, and print
each metric's median, quartiles and spread (IQR / median), next to the bound
BENCHMARK.json gives it.

Usage (from the repository root):
  python3 perfbench/steady.py --workload cdc_sync --runs 10 [--first-seed 1] [--trace 0]

The bounds in BENCHMARK.json are set from this tool's output: every spread but
setup_s's must stay below a third of its bound. Quartiles are Python's
statistics.quantiles(values, n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    values, shares, walls = {}, set(), []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                               "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        shares.add(res["failed"] / res["attempted"])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, attempted {res['attempted']}, failed {res['failed']}, " +
              ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"\n{args.workload}: {args.runs} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s, failed share(s) {sorted(shares)}")
    print(f"{'metric':32} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or k == "setup_s" or spread < b / 3 else "  <-- above bound/3"
        print(f"{k:32} {q1:12.4g} {med:12.4g} {q3:12.4g} {spread:8.3f} {b if b is not None else '-':>6}{flag}")


if __name__ == "__main__":
    main()
