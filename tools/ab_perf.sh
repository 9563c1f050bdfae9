#!/bin/bash
# Controlled same-box perf A/B — THE decisive triage for any bench mover.
#
# Rebuilds <prev-commit> in a throwaway git worktree, then runs the
# IDENTICAL graft.tools.Perf query list on both builds back-to-back
# (fresh JVM each, same data, same order). This separates "code
# regression" from "machine/run-condition drift" in ~20 minutes, which
# round 14 burned hours failing to do with stale cross-host anchors.
#
# Protocol (SCALING.md "perf triage"): any >1.15x bench mover whose
# ancestry touches changed files triggers this BEFORE the round records
# a verdict. ALWAYS include two controls in <query>...:
#   - one untouched-code query (e.g. q30_region_rollup): ratio ~1.0
#     proves no machine drift;
#   - one cheap-input sibling of the suspect (e.g. t10_common_ratio for
#     roundDiv movers): isolates WHICH input makes the mover expensive.
#
# Each side runs its OWN graft.tools.Perf. Perf now times construction
# plus a `noop` write (every output column computed); older builds timed
# `df.count()`. An A/B whose <prev-commit> predates that switch compares
# different actions, so its ratios mix the code change with the action
# change — pick a <prev-commit> on the same side of it.
#
# Usage: tools/ab_perf.sh <prev-commit> <sfDir> <mem> [reps=N] <query>...
# Example:
#   tools/ab_perf.sh b76f99c /root/testdata/sf0.1 8g reps=5 \
#     t02_quality t06_quality_topk q30_region_rollup t10_common_ratio
set -euo pipefail
cd /root/repo
PREV="$1"; SF_DIR="$2"; MEM="$3"; shift 3

SHA=$(git rev-parse --short "$PREV")
WT="/tmp/ab_$SHA"
if [ ! -d "$WT" ]; then
  git worktree add "$WT" "$SHA" >&2
fi
if [ ! -d "$WT/target/scala-2.13/classes/graft" ]; then
  echo "== compiling $SHA in $WT ==" >&2
  (cd "$WT" && sbt -batch compile >/dev/null)
fi

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

run() { # $1 = classes dir, rest = queries
  local classes="$1"; shift
  java $OPENS -Djava.awt.headless=true -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC "-Xmx$MEM" \
    -cp "$classes:/opt/spark/jars/*" graft.tools.Perf "$SF_DIR" "$@"
}

echo "== box: $(grep -m1 'model name' /proc/cpuinfo | cut -d: -f2-), up $(uptime -p), load $(cut -d' ' -f1 /proc/loadavg) =="
echo "== A: $SHA (prev) =="
run "$WT/target/scala-2.13/classes" "$@"
echo "== B: HEAD ($(git rev-parse --short HEAD)$(git diff --quiet || echo +dirty)) =="
run "target/scala-2.13/classes" "$@"
echo "== interpret: B/A > 1.15 on a suspect with controls ~1.0 => real code regression =="
