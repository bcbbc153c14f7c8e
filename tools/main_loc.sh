#!/usr/bin/env bash
# Print the main-source line count of a change: lines added, removed and
# net under src/main between BASE and the working tree (committed or not;
# new files count once they are staged or committed).
#
# Usage: tools/main_loc.sh BASE
#   BASE: any git revision, e.g. the parent commit of the change
set -euo pipefail

base="${1:?usage: tools/main_loc.sh BASE}"
cd "$(dirname "$0")/.."

git diff --numstat "$base" -- src/main | awk '
  $1 != "-" { added += $1; removed += $2 }
  END { printf "added %d removed %d net %+d\n", added, removed, added - removed }'
