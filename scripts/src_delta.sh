#!/usr/bin/env bash
# Added, deleted and net lines under src/main and src/test, and added,
# deleted and net tracked files repo-wide, between a base revision
# (default HEAD) and the working tree, uncommitted and untracked files
# included: the net-lines and file-count figures each change reports.
# Usage: scripts/src_delta.sh [base]
set -euo pipefail
cd "$(dirname "$0")/.."
base="${1:-HEAD}"
for dir in src/main src/test; do
  { git diff --numstat "$base" -- "$dir"
    git ls-files --others --exclude-standard -- "$dir" |
      while read -r f; do echo "$(wc -l < "$f") 0 $f"; done
  } | awk -v d="$dir" '$1 != "-" { a += $1; r += $2 }
      END { printf "%-9s +%d -%d net %+d\n", d, a, r, a - r }'
done
{ git diff --name-status --no-renames "$base"
  git ls-files --others --exclude-standard | sed 's/^/A\t/'
} | awk '$1 == "A" { a++ } $1 == "D" { r++ }
    END { printf "%-9s +%d -%d net %+d\n", "files", a, r, a - r }'
