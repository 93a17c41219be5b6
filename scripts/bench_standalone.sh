#!/usr/bin/env bash
# Standalone-JVM bench (judge r4 directive): timings must come from a plain
# `java` process — never sbt-co-resident — on an otherwise idle machine.
# Usage:
#   sbt compile                      # once, to refresh target/.../classes
#   scripts/bench_standalone.sh [sfDir] [cpus] [repeats]
# Defaults: sf0.1, 4 cpus (matches the driver's per-round capture), 3 repeats.
# Output: the Bench JSON lines on stdout — the "runs" line carries every
# individual timing, the "total" line the per-query medians. Redirect to a
# file to commit as BENCH_LOCAL_r{N}.json.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.1}"
CPUS="${2:-4}"
REPEATS="${3:-3}"

. scripts/jvm.sh

exec env \
  SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_REPEATS="$REPEATS" \
  "${GRAFT_JAVA[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  graft.Bench
