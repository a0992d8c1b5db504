#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --workload populate [--runs 10] [--first-seed 1]

Runs `run.py --trace 0` once per seed, then prints, for every end-to-end
metric of BENCHMARK.json, the median of the runs and the distance between
their first and third quartiles (statistics.quantiles, n=4) as a share of
that median, next to the metric's bound. Also prints each run's wall time.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in bench["end_to_end"]}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        walls.append(wall)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-2000:]}")
        result = json.loads(last)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed} wall {wall:.1f}s attempted {result['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    print(f"{args.workload} wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{args.workload} {m['name']}: median {med:.5g} spread {spread:.3f} "
              f"bound {m['bound']} ({'ok' if spread <= m['bound'] / 3 else 'WIDE'})")


if __name__ == "__main__":
    main()
