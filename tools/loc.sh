#!/bin/bash
# Print the count of non-blank, non-comment lines of Scala under
# src/main/scala (or under the directory given as the first argument).
# A line counts unless it is blank or, after leading whitespace, starts
# with `//`, `/*` or `*` (scaladoc and block-comment bodies).
# Usage: tools/loc.sh [dir]
set -eu
DIR=${1:-$(dirname "$0")/../src/main/scala}
find "$DIR" -name '*.scala' -print0 | xargs -0 cat |
  awk '{ sub(/^[ \t]+/, "") } $0 != "" && !/^(\/\/|\/\*|\*)/ { n++ } END { print n + 0 }'
