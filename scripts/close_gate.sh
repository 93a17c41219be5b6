#!/usr/bin/env bash
# Correctness gate: run graft.Verify (on the GraftSession session) and the
# DuckDB compare end-to-end FROM A CLEAN STATE and fail loudly if any
# artifact is empty, any query errors, or the per-query count shrank — an
# empty dump is indistinguishable from a silent total failure.
#
# Usage: scripts/close_gate.sh [sfDir] [outDir] [minQueries]
#   minQueries defaults to the CURRENT SparkEntry.queries size, read from
#   the dumped oracle_sql.json and cross-checked against the result dirs.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_close}"
MIN="${3:-443}"   # last committed green count — a shrink is a red flag

MISSING_PREFIX="CLOSE GATE RED: "
. scripts/jvm.sh

rm -rf "$OUT"   # REQUIRED: stale outputs from a prior run pass check.py

ERRLOG="$(mktemp /tmp/close_gate_verify_err.XXXXXX)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" \
  "${GRAFT_JAVA[@]}" -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  graft.Verify "$SF_DIR" "$OUT" 2>"$ERRLOG" \
  || { echo "CLOSE GATE RED: graft.Verify exited non-zero" >&2; exit 1; }

# per-query catch lines: any [verify] line is a failed query
if grep "\[verify\]" "$ERRLOG"; then
  echo "CLOSE GATE RED: graft.Verify reported per-query failures (above)" >&2
  exit 1
fi

# artifact shape: oracle_sql.json present, non-empty, and every oracle has
# a result directory (and vice versa — a result without an oracle would be
# a rows-only downgrade)
[ -s "$OUT/oracle_sql.json" ] \
  || { echo "CLOSE GATE RED: $OUT/oracle_sql.json missing or empty" >&2; exit 1; }
N_ORACLE=$(python3 -c "import json;print(len(json.load(open('$OUT/oracle_sql.json'))))")
N_OUT=$(find "$OUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
echo "close_gate: $N_ORACLE oracle entries, $N_OUT result dirs (min $MIN)"
[ "$N_ORACLE" -ge "$MIN" ] \
  || { echo "CLOSE GATE RED: oracle count $N_ORACLE < $MIN" >&2; exit 1; }
[ "$N_OUT" -eq "$N_ORACLE" ] \
  || { echo "CLOSE GATE RED: $N_OUT result dirs != $N_ORACLE oracles" >&2; exit 1; }

# the DuckDB mirror of the driver's compare — rc-checked, and the summary
# re-parsed so an all-skipped/empty run cannot sneak through as rc 0
SUMMARY="$(mktemp /tmp/close_gate_check.XXXXXX)"
python3 scripts/check.py "$SF_DIR" "$OUT" | tee "$SUMMARY" \
  || { echo "CLOSE GATE RED: scripts/check.py exited non-zero" >&2; exit 1; }
N_PASS=$(grep -oE '^PASS \(([0-9]+)\)' "$SUMMARY" | grep -oE '[0-9]+')
N_FAIL=$(grep -oE '^FAIL \(([0-9]+)\)' "$SUMMARY" | grep -oE '[0-9]+')
[ -n "$N_PASS" ] && [ -n "$N_FAIL" ] \
  || { echo "CLOSE GATE RED: check.py summary unparseable" >&2; exit 1; }
[ "$N_FAIL" -eq 0 ] \
  || { echo "CLOSE GATE RED: $N_FAIL queries FAIL" >&2; exit 1; }
[ "$N_PASS" -ge "$MIN" ] \
  || { echo "CLOSE GATE RED: only $N_PASS PASS (< $MIN; rows-only does not count)" >&2; exit 1; }

echo "CLOSE GATE OK: $N_PASS queries PASS rows+schema+values (>= $MIN), 0 FAIL"
