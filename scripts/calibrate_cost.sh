#!/usr/bin/env bash
# Plan-work-isolated cost calibration (see graft.tools.CalibrateCost):
# standalone JVM, planFor un-timed, noop-sink re-executions timed.
# Usage: sbt compile && scripts/calibrate_cost.sh [sfDir] [repeats]
# Redirect stdout to a file and pass it to DumpCascades as
# GRAFT_CALIB_JSON to embed the grounded table in CASCADES.md.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/tmp/graft_sf1}"
REPEATS="${2:-5}"

. scripts/jvm.sh

exec env \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  "${GRAFT_JAVA[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  graft.tools.CalibrateCost "$SF_DIR" "$REPEATS"
