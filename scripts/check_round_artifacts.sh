#!/usr/bin/env bash
# Round-close artifact sanity (VERDICT r10 item 6): every committed bench
# capture must be non-empty and parse, with a plausible query count and a
# parseable total — the r10 close committed an EMPTY BENCH_LOCAL file
# because the snapshot commit landed before the capture finished.
# Usage: scripts/check_round_artifacts.sh FILE [FILE...]
set -euo pipefail
rc=0
for f in "$@"; do
  if [ ! -s "$f" ]; then
    echo "ARTIFACT RED: $f missing or EMPTY" >&2; rc=1; continue
  fi
  python3 - "$f" <<'EOF' || rc=1
import json, sys
path = sys.argv[1]
total = None
for line in open(path):
    line = line.strip()
    if not line.startswith('{'):
        continue
    try:
        obj = json.loads(line)
    except ValueError:
        continue
    # key order and spacing are free; the total line carries per-query times
    if isinstance(obj, dict) and obj.get("metric") == "total" and "queries" in obj:
        total = obj
if total is None:
    print(f"ARTIFACT RED: {path} has no parseable total line", file=sys.stderr)
    sys.exit(1)
n, failed, val = total["n_queries"], total["n_failed"], total["value"]
assert n >= 1 and val > 0, f"implausible totals in {path}: n={n} value={val}"
if failed:
    print(f"ARTIFACT RED: {path} n_failed={failed} n_queries={n} total={val}s",
          file=sys.stderr)
    sys.exit(1)
print(f"ARTIFACT OK: {path} n_queries={n} n_failed={failed} total={val}s")
EOF
done
exit $rc
