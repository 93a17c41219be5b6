#!/usr/bin/env bash
# Fast correctness iteration: run graft.Verify on a subset of queries
# (comma-separated names in $1; a name ending in `*` selects every query
# with that prefix, e.g. 'cascades_exec_*') against one scale dir or
# several, then run the DuckDB compare of scripts/check.py per scale.
# $2 is a scale dir (default /root/testdata/sf0.01) or a comma list of
# them; a bare name such as `sf0.1` is taken from the default dir's
# parent, so 'sf0.001,sf0.01,sf0.1' checks all three scales in one call.
# With one scale the outputs go to $3; with several, to $3/<scale>.
# Exits non-zero if any scale fails.
# Usage: scripts/verify_subset.sh 'q1,q2[,prefix*,...]' [sfDir[,sfDir...]] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."

DEFAULT_SF=/root/testdata/sf0.01
ONLY="${1:?comma-separated query names or prefixes ending in *}"
IFS=, read -r -a SF_DIRS <<< "${2:-$DEFAULT_SF}"
OUT="${3:-/tmp/verify_subset}"

. scripts/jvm.sh

failed=()
for sf in "${SF_DIRS[@]}"; do
  [[ "$sf" == */* ]] || sf="$(dirname "$DEFAULT_SF")/$sf"
  out="$OUT"
  [ "${#SF_DIRS[@]}" -eq 1 ] || out="$OUT/$(basename "$sf")"
  rm -rf "$out"
  rc=0
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" "${GRAFT_JAVA[@]}" -Xmx8g \
    graft.Verify "$sf" "$out" "$ONLY" 2>/dev/null || rc=$?
  # Verify exits non-zero when a query threw; still compare what it dumped
  python3 scripts/check.py "$sf" "$out" || rc=$?
  [ "$rc" -eq 0 ] || failed+=("$sf")
done

if [ "${#failed[@]}" -gt 0 ]; then
  echo "verify_subset: FAILED at ${failed[*]}" >&2
  exit 1
fi
