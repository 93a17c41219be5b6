#!/usr/bin/env bash
# Alternating parent/change pairs of the repo's benchmark (BENCHMARK.json),
# each side run from its own `git archive` copy outside the checkout, so
# both build and run under equal conditions: no build cache, output
# directory or history of the checkout reaches either side.
#
# Usage: scripts/perf_pairs.sh <parent-rev> <change-rev> <workload> <seeds>
#   <seeds>     comma list of seeds and ranges, e.g. 13311-13316 or 7,9,20-22;
#               one pair per entry, both sides on the same seed (repeat a
#               seed, e.g. 7,7,7, for pairs over one query set)
#   <change-rev> any commit-ish; `$(git stash create)` measures uncommitted
#               work (stage new files first)
#
# Pair i runs the parent first when i is even and the change first when
# it is odd, each as `python3 perfbench/run.py --workload W --seed S
# --seconds <run_seconds> --trace 0` in its copy. It prints each copy's
# tree hash, the per-pair end-to-end metrics, then per metric the median
# and IQR of each side and the pairs in which the change is better. The
# copies (and their builds) are removed at exit.
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -ne 4 ]; then
  sed -n '7,12s/^# \{0,1\}//p' "$0" >&2
  exit 2
fi
parent=$1 change=$2 workload=$3 seedspec=$4

seeds=$(python3 - "$seedspec" <<'EOF'
import sys
out = []
for part in sys.argv[1].split(","):
    lo, _, hi = part.partition("-")
    out += range(int(lo), int(hi or lo) + 1)
print(" ".join(map(str, out)))
EOF
)

work=$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")
trap 'rm -rf "$work"' EXIT
for side in parent change; do
  rev=${!side}
  mkdir "$work/$side"
  git archive "$rev" | tar -x -C "$work/$side"
  echo "$side: $rev tree $(git rev-parse "$rev^{tree}")"
done
secs=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$work/change/BENCHMARK.json")

i=0
for seed in $seeds; do
  if [ $((i % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    log="$work/$side.$i.log"
    if ! (cd "$work/$side" && python3 perfbench/run.py --workload "$workload" \
        --seed "$seed" --seconds "$secs" --trace 0) > "$log" 2>&1; then
      echo "perfbench failed: $side, seed $seed" >&2
      tail -n 20 "$log" >&2
      exit 1
    fi
    echo "{\"pair\": $i, \"seed\": $seed, \"side\": \"$side\", \"run\": $(tail -n 1 "$log")}" \
      >> "$work/runs.jsonl"
  done
  i=$((i + 1))
done

python3 - "$work/runs.jsonl" "$work/change/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
by = {(r["pair"], r["side"]): r["run"] for r in runs}
seed = {r["pair"]: r["seed"] for r in runs}
def val(run, name):
    m = run["metrics"].get(name)
    return None if m is None else m["value"]
pair_ids = sorted(seed)
for i in pair_ids:
    for side in ("parent", "change"):
        run = by[(i, side)]
        vals = " ".join(f"{m['name']}={val(run, m['name']):.4g}"
                        for m in metrics if val(run, m['name']) is not None)
        print(f"pair {i} seed {seed[i]} {side:6} correct={run.get('correct')} {vals}")
def q(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3
print(f"{'metric':16} {'parent median (IQR)':28} {'change median (IQR)':28} change better")
for m in metrics:
    name, sign = m["name"], 1 if m["better"] == "higher" else -1
    pairs = [(val(by[(i, "parent")], name), val(by[(i, "change")], name))
             for i in pair_ids]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        continue
    cols = []
    for xs in ([p for p, _ in pairs], [c for _, c in pairs]):
        q1, med, q3 = q(xs)
        cols.append(f"{med:.4g} ({q3 - q1:.3g})")
    better = sum(sign * (c - p) > 0 for p, c in pairs)
    print(f"{name:16} {cols[0]:28} {cols[1]:28} {better}/{len(pairs)}")
EOF
