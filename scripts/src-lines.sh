#!/bin/bash
# Print the number of lines in the Scala sources under src/main: of the
# working tree with no argument, or of a git revision (a commit, tag or
# branch) with one. The net src/main line count is a tracked number;
# `scripts/src-lines.sh HEAD~` against `scripts/src-lines.sh` gives a
# change's net lines.
#   scripts/src-lines.sh [rev]
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -eq 0 ]; then
  find src/main -name '*.scala' -type f -print0 | xargs -0 cat | wc -l
else
  git ls-tree -r --name-only "$1" -- src/main | grep '\.scala$' |
    while IFS= read -r f; do git show "$1:$f"; done | wc -l
fi
