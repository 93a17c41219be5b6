#!/usr/bin/env bash
# Fast correctness iteration: run graft.Verify on a subset of queries
# (comma-separated names in $1; a name ending in `*` selects every query
# with that prefix, e.g. 'cascades_exec_*') against sf0.01, then run the
# DuckDB compare of scripts/check.py.
# Usage: scripts/verify_subset.sh 'q1,q2[,prefix*,...]' [sfDir] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."

ONLY="${1:?comma-separated query names or prefixes ending in *}"
SF_DIR="${2:-/root/testdata/sf0.01}"
OUT="${3:-/tmp/verify_subset}"
rm -rf "$OUT"

CLASSES="target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first" >&2; exit 1; }

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

env SPARK_LOCAL_IP=127.0.0.1 SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" \
  java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" "$ONLY" 2>/dev/null || rc=$?

# Verify exits non-zero when a query threw; still compare what it dumped
python3 scripts/check.py "$SF_DIR" "$OUT" || rc=$?
exit "${rc:-0}"
