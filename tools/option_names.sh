#!/usr/bin/env bash
# Print every distinct option-name string literal under src/main (a
# `graft.*` system property, a `GRAFT_*` or `SPARK_GRAFT_*` environment
# variable), one a line, then their count.
#
#   tools/option_names.sh [repo-root]    (default: this script's repo)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
names=$(grep -rhoaE '"(graft\.[a-zA-Z]+(\.[a-zA-Z]+)+|GRAFT_[A-Z0-9_]+|SPARK_GRAFT_[A-Z0-9_]+)"' \
  "$root/src/main" | tr -d '"' | sort -u)
printf '%s\n' "$names"
echo "count: $(printf '%s\n' "$names" | grep -c .)"
