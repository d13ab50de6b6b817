#!/usr/bin/env python3
"""Exact-count steadiness check of the layer benchmark.

For each workload, runs the traced benchmark twice with one seed and once
with another, then checks that the same seed gives the same operation
stream and the same spark.jobs / spark.tasks, and that the other seed gives
a different operation stream.

Usage (from the root of a checkout):
  python3 layerbench/repeat_check.py [--seed N] [--seconds S] [workload ...]
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("registry_floor", "telemetry_serve")


def traced(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    art = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "layerbench" / \
        "artifacts" / f"{workload}_seed{seed}_trace1.json"
    detail = json.loads(art.read_text())["detail"]
    return (detail["op_stream_sha256"], metrics["spark.jobs"]["value"],
            metrics["spark.tasks"]["value"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()
    ok = True
    for w in a.workloads:
        first = traced(w, a.seed, a.seconds)
        again = traced(w, a.seed, a.seconds)
        other = traced(w, a.seed + 1, a.seconds)
        same = first == again
        moved = other[0] != first[0]
        ok &= same and moved
        print(json.dumps({"workload": w, "seed": a.seed,
                          "same_seed_identical": same, "other_seed_changes_stream": moved,
                          "runs": {"first": first, "again": again, "other_seed": other}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
