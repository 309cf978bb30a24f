#!/usr/bin/env bash
# Zero-caller scan: prints every `def` name declared under src/main that is
# never mentioned (word-boundary match) anywhere in src/ or perfbench/src
# except at its own declaration(s). What remains on a clean tree is
# framework overrides Spark or Scala call (nullSafeEval,
# withNewChildInternal, shortName, ...).
#
# Usage: tools/unused_defs.sh   (no options; runs from the repository root
# wherever it is checked out)
set -eu
cd "$(dirname "$0")/.."
for n in $(grep -rhoP --include=*.scala \
    '^\s*(?:(?:private|protected|override|final|implicit|lazy)(?:\[\w+\])?\s+)*def\s+\K\w+' \
    src/main | sort -u); do
  c=$(grep -rwo --include=*.scala "$n" src perfbench/src | wc -l)
  d=$(grep -rPo --include=*.scala "def\s+$n\b" src/main | wc -l)
  if [ "$c" -le "$d" ]; then echo "$n"; fi
done
