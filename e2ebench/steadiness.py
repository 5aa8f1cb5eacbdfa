#!/usr/bin/env python3
"""Runs the benchmark once per seed on each workload and reports, per
end-to-end metric, the median, the quartiles and the spread (Q3 - Q1 as a
share of the median), the figures BENCHMARK.json's bounds are checked
against, and one line per run with its duration and figures.

    python3 e2ebench/steadiness.py --seeds 1-10

Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in (w["name"] for w in spec["workloads"]):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(res)
            print(f"  seed {s}: {time.monotonic() - t0:.0f} s, " + ", ".join(
                f"{m} {v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
        print(f"{w}: {len(runs)} runs, correct {all(r['correct'] for r in runs)}")
        for m, b in bounds.items():
            v = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else 0.0
            print(f"  {m:13s} median {med:11.4f}  Q1 {q1:11.4f}  Q3 {q3:11.4f}"
                  f"  spread {spread:.3f}  bound {b}")


if __name__ == "__main__":
    main()
