#!/bin/bash
# Direct-JVM Perf runner: bypasses sbt so concurrent source edits can't
# trigger a recompile under a timed run, and each invocation is a fresh
# JVM (the honest cross-JVM measurement mode for the scaling rehearsals;
# see SCALING.md). run_direct.sh owns the classpath, the stale-build
# guard and the JVM flags. Usage:
#   tools/perf_direct.sh <sfDir> <mem> [reps=N] <query>...
set -euo pipefail
SF_DIR="$1"; MEM="$2"; shift 2
exec "$(dirname "$0")/run_direct.sh" "$MEM" graft.tools.Perf "$SF_DIR" "$@"
