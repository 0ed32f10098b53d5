#!/usr/bin/env python3
"""Derive the perf-weak list from the committed bench artifacts.

A query is perf-weak iff
  - its DuckDB oracle does real work   (oracle >= 0.3 s), and
  - the Spark side is not floor-noise  (spark  >= 1.4 s), and
  - the ratio exceeds the contract     (spark / oracle > 2), and
  - it is not a streaming-parity query (micro-batch start/stop floors
    are excluded by the rule).

The ratio is the raw one: both numbers come straight from the artifacts.
The detail file's `steal_pct`, when present, is printed as context.

Usage:
  python3 tools/perf_weak.py [BENCH_DETAIL.json] [ORACLE_TIMES.json]

Exit status 0 always (this is a report, not a gate); prints one line per
offender plus a summary line, "perf-weak: N raw".
"""
import json
import sys

STREAMING = {
    "q26_stream_window", "q34_stream_dedupe", "q36_stream_sessions",
    "q42_stream_static_join", "q52_stream_stream_join", "q67_stream_cdc_merge",
}


def main():
    bench_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_DETAIL.json"
    oracle_path = sys.argv[2] if len(sys.argv) > 2 else "ORACLE_TIMES.json"
    with open(bench_path) as f:
        bench = json.load(f)
    with open(oracle_path) as f:
        oracle = {k: v for k, v in json.load(f).items()
                  if not k.startswith("_") and v >= 0}

    weak = []
    for name, spark in bench["queries"].items():
        ot = oracle.get(name)
        if name in STREAMING or spark < 0 or ot is None or ot < 0.3:
            continue
        if spark >= 1.4 and spark / ot > 2.0:
            weak.append((name, spark, ot))

    for name, sp, ot in sorted(weak, key=lambda w: -w[1] / w[2]):
        print(f"{name:30s} spark={sp:6.2f}s  oracle={ot:6.2f}s  ratio={sp / ot:4.1f}x")
    steal = bench.get("steal_pct", bench.get("calib", {}).get("steal_pct"))
    print(f"perf-weak: {len(weak)} raw (cpus={bench.get('cpus')}, steal_pct={steal}; "
          f"streaming excluded: {len(STREAMING)})")


if __name__ == "__main__":
    main()
