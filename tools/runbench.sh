#!/bin/bash
# Dev-only: run graft.Bench directly on compiled classes (no sbt overhead).
# Usage: tools/runbench.sh <sfDir> <outFile> [memGB]
# GRAFT_BENCH_CLASSES overrides the classes dir (see tools/runmain.sh).
set -e
SF="$1"; OUT="$2"; MEM="${3:-48}"
SPARK_GRAFT_SF_DIR="$SF" SPARK_DRIVER_MEM="${MEM}g" \
  "$(dirname "$0")/runmain.sh" graft.Bench > "$OUT" 2>"$OUT.err"
grep -c '"metric"' "$OUT" >/dev/null && echo "done: $OUT"
