#!/usr/bin/env bash
# Count Scala source lines the way CHANGES.md reports them: a line of a
# `*.scala` file counts unless it is blank or its first non-space
# characters are `//`, `/*` or `*` (comment and scaladoc lines).
#
#   tools/loc.sh                 totals for src/main and src/test
#   tools/loc.sh <path>...       one total per path (a file or a directory)
set -euo pipefail
cd "$(dirname "$0")/.."
[ "$#" -gt 0 ] || set -- src/main src/test
for p in "$@"; do
  n="$(find "$p" -type f -name '*.scala' -print0 | xargs -0 -r cat |
    awk '!/^[[:space:]]*$/ && !/^[[:space:]]*(\/\/|\/\*|\*)/ {n++} END {print n + 0}')"
  printf '%s\t%s\n' "$n" "$p"
done
