#!/usr/bin/env bash
# Every environment variable the program reads, one name a line, then the
# count: the knob measure the simplicity changes in CHANGES.md report, as
# tools/sloc.sh is the size measure. The program's variables all live in
# the GRAFT_ / SPARK_GRAFT_ namespace and are named by a string literal
# passed to `core.Knobs` or `sys.env` (or held in a val that is). A
# per-side template such as `s"GRAFT_${side}_PORT"` is expanded over the
# sides its file passes as `read(env, "SIDE")`.
#
# Usage: tools/knobs.sh [DIR]        (default: src/main; run from the repo root)
set -eu
dir="${1:-src/main}"
names=$(
  grep -rhoE '"(SPARK_)?GRAFT_[A-Z0-9_]+"' --include='*.scala' "$dir" | tr -d '"'
  grep -rlE 's"(SPARK_)?GRAFT_[A-Z0-9_]*\$\{side\}' --include='*.scala' "$dir" |
    while read -r f; do
      for side in $(grep -oE 'read\(env, "[A-Z]+"\)' "$f" | grep -oE '[A-Z]+'); do
        grep -oE 's"(SPARK_)?GRAFT_[A-Z0-9_]*\$\{side\}[A-Z0-9_]*"' "$f" |
          sed -e 's/^s"//' -e 's/"$//' -e "s/\${side}/$side/"
      done
    done
)
printf '%s\n' "$names" | sort -u
echo "$(printf '%s\n' "$names" | sort -u | grep -c .) knobs in $dir"
