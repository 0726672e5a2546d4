#!/bin/sh
# Lists candidate spec-only code: every non-`override` `def` under
# src/main/scala whose name appears as a whole word on no other
# non-comment line of src/main or perfbench/src.
#
#     sh tools/spec_only_defs.sh          # from the repository root
#
# Prints one `file: name` line per candidate, sorted. A comment line is one
# whose first non-blank characters are `//`, `/*` or `*` (scaladoc). The
# output lists candidates, not verdicts: entry points (a `main`, a function
# registered by name, a method only a reflective caller reaches) show up too
# and are judged by hand.
set -eu
cd "$(dirname "$0")/.."

find src/main perfbench/src -name '*.scala' | sort | xargs awk '
  FNR == 1 { file = FILENAME }
  /^[ \t]*(\/\/|\/\*|\*)/ { next }  # comment line
  {
    line++
    # every identifier on the line, counted once per line
    n = split($0, words, /[^A-Za-z0-9_]+/)
    delete seen
    for (i = 1; i <= n; i++)
      if (words[i] != "" && !(words[i] in seen)) { seen[words[i]] = 1; uses[words[i]]++ }
    # a def declared on this line, unless it overrides
    if (file ~ /^src\/main\/scala\// && $0 !~ /(^|[^A-Za-z0-9_])override[ \t]/ &&
        match($0, /(^|[^A-Za-z0-9_])def[ \t]+[A-Za-z_][A-Za-z0-9_]*/)) {
      decl = substr($0, RSTART, RLENGTH)
      sub(/^.*def[ \t]+/, "", decl)
      defs++; defFile[defs] = file; defName[defs] = decl
    }
  }
  END {
    # a name seen on one line only appears on its own def line
    for (d = 1; d <= defs; d++)
      if (uses[defName[d]] == 1) print defFile[d] ": " defName[d]
  }
' | sort -u
