#!/usr/bin/env bash
# Standalone-JVM bench: timings must come from a plain `java` process —
# never sbt-co-resident — on an otherwise idle machine.
# Usage:
#   sbt compile                      # once, to refresh target/.../classes
#   scripts/bench_standalone.sh [sfDir] [cpus] [repeats]
# Defaults: sf0.1, 4 cpus, 3 repeats (the reference capture's protocol).
# Output: the Bench JSON lines on stdout — the "runs" line carries every
# individual timing, the "total" line the per-query medians. Redirect to
# BENCH_LOCAL.json to retake the one reference capture that
# scripts/bench_gate.py compares against.
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
