#!/bin/bash
# Non-comment, non-blank line count of src/main/**/*.scala: drops blank
# lines and lines whose first non-space characters are `//`, `*` or
# `/*`. This is the figure the ROADMAP's line-deletion target tracks.
# Usage:
#   tools/loc.sh
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
find "$ROOT/src/main" -name '*.scala' -print0 | xargs -0 cat |
  grep -Ev '^[[:space:]]*$|^[[:space:]]*(//|\*|/\*)' | wc -l
