#!/usr/bin/env python3
"""Run-to-run spread of the layer benchmark's end-to-end metrics.

Runs each workload untraced on seeds 1..N and prints, per metric, the
median and the interquartile range as a share of the median (the
`statistics.quantiles(values, n=4)` quartiles), next to the metric's bound
in BENCHMARK.json.

Usage (from the root of a checkout):
  python3 layerbench/spread.py [--runs N] [--seconds S] [workload ...]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for w in a.workloads:
        values, walls, failed = {}, [], 0
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(a.seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
            walls.append(time.time() - t0)
            res = json.loads(out.strip().splitlines()[-1])
            failed += res["failed"] + (0 if res["correct"] else 1)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {a.runs} runs, failed ops {failed}, run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            worst = max(worst, spread / bounds[k])
            print(f"  {k:16s} median {med:12.4f}  iqr/median {spread:7.4f}  bound {bounds[k]}"
                  f"  {'OK' if spread < bounds[k] / 3 else 'WIDE'}")
            print("    " + " ".join(f"{v:.4g}" for v in vs))
    print(f"worst spread/bound: {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
