#!/usr/bin/env bash
# Reference scans over every `def` name declared under src/main, word-boundary
# matched. Prints two lists:
#
#  1. zero-caller: names never mentioned anywhere in src/ or perfbench/src
#     except at their own declaration(s). What remains on a clean tree is
#     framework overrides Spark or Scala call (nullSafeEval,
#     withNewChildInternal, shortName, ...).
#  2. spec-only (headed): names with no reference in src/main or
#     perfbench/src outside their declaration(s) and outside comments
#     (scaladoc links and `//` remarks do not count), but with one in
#     src/test.
#
# Usage: tools/unused_defs.sh   (no options; runs from the repository root
# wherever it is checked out)
set -eu
cd "$(dirname "$0")/.."
names=$(grep -rhoP --include=*.scala \
    '^\s*(?:(?:private|protected|override|final|implicit|lazy)(?:\[\w+\])?\s+)*def\s+\K\w+' \
    src/main | sort -u)
# non-comment lines of the program sources: drop scaladoc/block-comment
# lines and trailing ` // ...` remarks
code=$(grep -rh --include=*.scala '' src/main perfbench/src \
  | grep -vP '^\s*(//|/\*|\*)' | sed -E 's#\s//\s.*$##')
spec_only=""
for n in $names; do
  c=$(grep -rwo --include=*.scala "$n" src perfbench/src | wc -l)
  d=$(grep -rPo --include=*.scala "def\s+$n\b" src/main | wc -l)
  if [ "$c" -le "$d" ]; then echo "$n"; continue; fi
  m=$(printf '%s\n' "$code" | grep -wo "$n" | wc -l)
  if [ "$m" -le "$d" ] && grep -rqw --include=*.scala "$n" src/test; then
    spec_only="$spec_only $n"
  fi
done
echo "== spec-only: referenced in src/test, never outside comments in src/main or perfbench/src =="
for n in $spec_only; do
  echo "$n  $(grep -rlP --include=*.scala "def\s+$n\b" src/main | paste -sd' ' -)"
done
