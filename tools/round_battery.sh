#!/usr/bin/env bash
# Round-close battery — the checks every round must end green on, in one
# command. Run from the repo root on a QUIET host (the bench window is
# the round's committed evidence; a loaded host poisons it).
#
#   tools/round_battery.sh            # everything including the bench
#   tools/round_battery.sh --no-bench # correctness-only (~40 min on 4 vCPUs)
#
# Steps (each fails the script):
#   1. sbt compile + full ScalaTest suite
#   2. full Verify at sf0.01 AND sf0.1 + DuckDB compare at each (the
#      compare tool's "ALL MATCH" line over the whole declared catalog —
#      no hardcoded count here; the catalog grows)
#   3. tools/check_anchors.py (SURVEY file:line anchors)
#   4. [unless --no-bench] full Bench at sf0.1 -> BENCH_DETAIL.json
#   5. tools/perf_weak.py report (informational; read the count)
#
# NOT automated here: ORACLE_TIMES.json regeneration (only when an
# oracle changes — tools/time_oracle.py, quiet host, ~10 min) and the
# conservative-window choice when several bench windows were run.
set -euo pipefail
cd "$(dirname "$0")/.."

SF001=${SF001:-/root/testdata/sf0.01}
SF01=${SF01:-/root/testdata/sf0.1}
OUT=${OUT:-/tmp/round_battery_verify}

echo "=== 1/5 compile + full test suite ==="
sbt -batch "compile; test"

for SF in "$SF001" "$SF01"; do
  echo "=== 2/5 Verify @ $(basename "$SF") + DuckDB compare ==="
  rm -rf "$OUT"
  sbt -batch "runMain graft.Verify $SF $OUT"
  python3 tools/compare.py "$SF" "$OUT"
done

echo "=== 3/5 SURVEY anchors ==="
python3 tools/check_anchors.py

if [[ "${1:-}" != "--no-bench" ]]; then
  echo "=== 4/5 Bench @ sf0.1 (quiet host!) ==="
  SPARK_GRAFT_SF_DIR="$SF01" sbt -batch "runMain graft.Bench" | grep -o '{"metric".*' | tail -1
else
  echo "=== 4/5 bench SKIPPED (--no-bench) ==="
fi

echo "=== 5/5 perf-weak report ==="
python3 tools/perf_weak.py

echo "ROUND BATTERY GREEN"
