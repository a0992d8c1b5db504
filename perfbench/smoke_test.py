#!/usr/bin/env python3
"""The harness's own tests, at sf0.001 size (`--scale smoke`).

    python3 perfbench/smoke_test.py

For every workload, a `--trace 0` run must emit exactly the end-to-end
metrics of BENCHMARK.json and a `--trace 1` run exactly its per-layer
metrics, both correct and with exit code 0; every metric named in the
workload documentation must be printed with unit and sample count. A run
with `--corrupt-digest` must print `"correct": false` and exit nonzero.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NAMED = {
    "populate": ["setup_s", "populate_batch_p50_s", "populate_batch_tail_s",
                 "populate_rows_per_s", "sink_bytes_per_row", "report_query_p50_s",
                 "report_query_tail_s", "ops_failed_frac"],
    "serving": ["setup_s", "serving_fold_p50_s", "serving_fold_tail_s",
                "serving_probe_p50_s", "serving_probe_tail_s", "ops_failed_frac"],
}


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "smoke", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, json.loads(lines[-1]) if lines else None


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    failures = []

    def check(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in NAMED:
        for trace in (0, 1):
            rc, lines, res = run(w, trace)
            check(rc == 0 and res is not None and res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1, f"{w} trace={trace}: correct run, exit 0")
            if res is None:
                continue
            got = set(res["metrics"])
            check(got == want[trace], f"{w} trace={trace}: metric set is BENCHMARK.json's "
                  f"(missing {sorted(want[trace] - got)}, extra {sorted(got - want[trace])})")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace={trace}: every metric has a numeric value")
            printed = {l.split()[1] for l in lines if l.startswith("metric ") and " n=" in l}
            check(set(NAMED[w]) <= printed, f"{w} trace={trace}: named metrics printed with "
                  f"unit and sample count (missing {sorted(set(NAMED[w]) - printed)})")
        rc, _, res = run(w, 0, "--corrupt-digest")
        check(rc != 0 and res is not None and not res["correct"] and res["failed"] > 0,
              f"{w}: a corrupted digest fails the run")
    if failures:
        sys.exit(f"{len(failures)} check(s) failed")


if __name__ == "__main__":
    main()
