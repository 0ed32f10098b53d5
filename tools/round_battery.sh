#!/usr/bin/env bash
# Round-close battery — the checks every round must end green on, in one
# command. Run from the repo root on a QUIET host (the bench window is
# the round's committed evidence; a loaded host poisons it).
#
#   tools/round_battery.sh            # everything including the bench
#   tools/round_battery.sh --no-bench # correctness-only (~40 min on 4 vCPUs)
#
# Steps (each fails the script):
#   1. sbt compile + full ScalaTest suite, in ROADMAP's tier-1 environment
#   2. full Verify at sf0.01 AND sf0.1 + DuckDB compare at each (the
#      compare tool's "ALL MATCH" line over the whole declared catalog —
#      no hardcoded count here; the catalog grows)
#   3. tools/check_anchors.py (SURVEY file:line anchors)
#   4. perfbench pipeline workload, seed 1: raw files through every stage
#      to the parquet vector table (Sinks.writeVectorTable) end to end;
#      fails unless the result line has correct == true and failed == 0
#   5. [unless --no-bench] full Bench at sf0.1 -> BENCH_DETAIL.json;
#      fails unless the result line reports failed == 0
#   6. tools/perf_weak.py raw-ratio report (informational; read the
#      "perf-weak: N raw" line)
#
# NOT automated here: ORACLE_TIMES.json regeneration (only when an
# oracle changes — tools/time_oracle.py, quiet host, ~10 min) and the
# conservative-window choice when several bench windows were run.
set -euo pipefail
cd "$(dirname "$0")/.."

SF001=${SF001:-/root/testdata/sf0.01}
SF01=${SF01:-/root/testdata/sf0.1}
OUT=${OUT:-/tmp/round_battery_verify}

echo "=== 1/6 compile + full test suite ==="
# the tier-1 environment (ROADMAP): all cores, half of MemTotal clamped to
# 2-8g as the forked test JVM's heap (build.sbt defaults it to 24g), and
# one spill dir; only this step sees it, so Bench keeps its 32-core default
(
  export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
  export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
  export SPARK_LOCAL_DIRS=/tmp/spark-local
  sbt -batch "compile; test"
)

for SF in "$SF001" "$SF01"; do
  echo "=== 2/6 Verify @ $(basename "$SF") + DuckDB compare ==="
  rm -rf "$OUT"
  sbt -batch "runMain graft.Verify $SF $OUT"
  python3 tools/compare.py "$SF" "$OUT"
done

echo "=== 3/6 SURVEY anchors ==="
python3 tools/check_anchors.py

echo "=== 4/6 perfbench pipeline (vector table end to end) ==="
line=$(python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0 | tail -1)
echo "$line"
python3 -c 'import json, sys
r = json.loads(sys.argv[1])
ok = r["correct"] is True and r["failed"] == 0
sys.exit(0 if ok else "pipeline: correct=%s failed=%s" % (r["correct"], r["failed"]))' "$line"

if [[ "${1:-}" != "--no-bench" ]]; then
  echo "=== 5/6 Bench @ sf0.1 (quiet host!) ==="
  line=$(SPARK_GRAFT_SF_DIR="$SF01" sbt -batch "runMain graft.Bench" | grep -o '{"metric".*' | tail -1)
  echo "$line"
  python3 -c 'import json, sys
r = json.loads(sys.argv[1])
sys.exit(0 if r["failed"] == 0 else "bench: %s queries failed" % r["failed"])' "$line"
else
  echo "=== 5/6 bench SKIPPED (--no-bench) ==="
fi

echo "=== 6/6 perf-weak raw report ==="
python3 tools/perf_weak.py

echo "ROUND BATTERY GREEN"
