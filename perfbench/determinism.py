#!/usr/bin/env python3
"""Which per-layer counters repeat exactly between two traced runs of one seed.

    python3 perfbench/determinism.py [--seed N] [--seconds S] [workload ...]

Runs `run.py --trace 1` twice per workload (default: both) and prints,
for every counter metric (unit `count`, plus the ratios and byte counts
derived from counts), whether both runs gave the same value. Timings are
left out: they never repeat exactly.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTER_UNITS = {"count", "ratio", "B", "MB"}


def traced_run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("workloads", nargs="*", default=["catalog", "pipeline"])
    a = ap.parse_args()
    for w in a.workloads:
        m1, m2 = traced_run(w, a.seed, a.seconds), traced_run(w, a.seed, a.seconds)
        same, differ = [], []
        for name, v in m1.items():
            if v["unit"] not in COUNTER_UNITS or name.startswith("trace.") or name.endswith("_s"):
                continue
            if v["value"] == 0 and m2[name]["value"] == 0:
                continue  # the workload does not call this layer
            (same if v["value"] == m2[name]["value"] else differ).append(
                f"{name}={v['value']:.6g}" + ("" if v["value"] == m2[name]["value"]
                                               else f" vs {m2[name]['value']:.6g}"))
        print(f"{w}: repeat exactly: {', '.join(same) or '-'}")
        print(f"{w}: vary: {', '.join(differ) or '-'}")


if __name__ == "__main__":
    main()
