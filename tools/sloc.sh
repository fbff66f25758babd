#!/usr/bin/env bash
# Non-blank, non-comment Scala lines per source tree: the size measure the
# simplicity changes in CHANGES.md report. A line counts unless it is blank
# or starts (after indentation) with `//`, `*` or `/*`.
#
# Usage: tools/sloc.sh [DIR...]      (default: src/main src/test)
# Run from the repo root, or pass paths; prints "<count> <dir>" per tree.
set -eu
[ "$#" -gt 0 ] || set -- src/main src/test
for d in "$@"; do
  n=$(find "$d" -name '*.scala' -print0 | xargs -0 cat |
    grep -vE '^[[:space:]]*$' | grep -vE '^[[:space:]]*(//|\*|/\*)' | wc -l)
  echo "$n $d"
done
