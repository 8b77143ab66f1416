#!/bin/bash
# Code size as the simplicity changes report it: the non-blank lines of
# the Scala sources under each path (default: this repo's src/main)
# that are not comment lines, i.e. do not start with //, /* or *.
# Usage: scripts/size.sh [paths...]
set -euo pipefail
paths=("$@")
[ $# -gt 0 ] || paths=("$(cd "$(dirname "$0")/.." && pwd)/src/main")
find "${paths[@]}" -name '*.scala' -print0 | xargs -0 cat \
  | grep -v '^\s*$' | grep -cv '^\s*\(//\|/\*\|\*\)'
