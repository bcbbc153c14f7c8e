#!/usr/bin/env bash
# Where the driver's client threads spend CPU in one benchmark run.
#
# Builds the benchmark first (so the compiler JVM is not recorded), then
# runs one seeded workload with a JFR recording attached through
# JAVA_TOOL_OPTIONS (profile sampling, stack depth 1024) -- nothing under
# perfbench/ changes -- and prints the share of the client threads' CPU
# samples per op class and phase: json parse/serialize, listing,
# explainString, runJob, analyzer, optimizer, planner, other. A sample
# counts for the innermost phase on its stack (tools/DriverProfile.java).
# The op class is the workload step on the stack (append, dml, maint for
# lake_write); pipeline steps share one class.
#
# Usage: tools/driver_profile.sh WORKLOAD SEED [SECONDS]
#   e.g. tools/driver_profile.sh lake_write 1      (30 s by default)
set -euo pipefail

workload="${1:?usage: tools/driver_profile.sh WORKLOAD SEED [SECONDS]}"
seed="${2:?usage: tools/driver_profile.sh WORKLOAD SEED [SECONDS]}"
seconds="${3:-30}"
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$(mktemp -d "${TMPDIR:-/tmp}/driver_profile.XXXXXX")"
trap 'rm -rf "$out"' EXIT

cd "$root"
python3 perfbench/build.py
JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024 -XX:StartFlightRecording=filename=$out/run.jfr,settings=profile" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" --trace 0 > "$out/run.log" 2>&1 || {
  tail -n 40 "$out/run.log" >&2
  echo "driver_profile: benchmark run failed" >&2
  exit 1
}

echo "workload=$workload seed=$seed seconds=$seconds"
grep -E '^# (ops_per_s|gmean_latency_ms|[a-z_]+_n) ' "$out/run.log" || true
java tools/DriverProfile.java "$out/run.jfr"
