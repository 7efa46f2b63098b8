#!/bin/bash
# Run graft.Verify from the compiled classpath (no sbt lock) through the
# shared launcher. Usage: run_verify.sh <sf> <out> [names]
# Relative <sf>/<out> paths resolve against the caller's directory (the
# launcher runs from the repository root).
[ $# -ge 2 ] || { echo "usage: $0 <sf> <out> [names]" >&2; exit 2; }
sf=$(realpath -m "$1")
out=$(realpath -m "$2")
shift 2
exec "$(dirname "$0")/run_tool.sh" graft.Verify "$sf" "$out" "$@"
