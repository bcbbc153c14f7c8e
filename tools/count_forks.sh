#!/usr/bin/env bash
# Count the OS processes one benchmark run forks from the JVM.
#
# Builds the benchmark first (so the compiler JVM is not recorded), then
# runs one `lake_write` seed with a JFR recording attached through
# JAVA_TOOL_OPTIONS -- nothing under perfbench/ changes -- and prints the
# number of jdk.ProcessStart events and the most frequent commands.
#
# Usage: tools/count_forks.sh [SEED] [SECONDS] [WORKLOAD]
#   defaults: seed 1, 30 s, lake_write
set -euo pipefail

seed="${1:-1}"
seconds="${2:-30}"
workload="${3:-lake_write}"
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX")"
trap 'rm -rf "$out"' EXIT

cd "$root"
python3 perfbench/build.py
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$out/run.jfr,settings=default" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" --trace 0 > "$out/run.log" 2>&1 || {
  tail -n 40 "$out/run.log" >&2
  echo "count_forks: benchmark run failed" >&2
  exit 1
}

jfr print --events jdk.ProcessStart "$out/run.jfr" > "$out/events.txt"
count="$(grep -c '^jdk.ProcessStart' "$out/events.txt" || true)"
echo "workload=$workload seed=$seed seconds=$seconds jdk.ProcessStart=$count"
echo "top commands:"
grep -E '^\s+command = ' "$out/events.txt" \
  | sed -E 's/^\s+command = "(.*)"$/\1/' \
  | awk '{print $1, $2}' | sort | uniq -c | sort -rn | head -n 10
