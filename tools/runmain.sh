#!/bin/bash
# Run a graft main on the compiled classes (no sbt start-up), with the
# JDK 17 module opens Spark needs outside spark-submit (build.sbt keeps
# its own copy for sbt's forked runs).
# Usage: tools/runmain.sh <main> [args...]
#   GRAFT_BENCH_CLASSES  classes dir to load (default: this checkout's
#                        target/scala-2.13/classes; point long runs at a
#                        snapshot so a recompile cannot corrupt lazy loading)
#   SPARK_DRIVER_MEM     max heap, as for sbt's forked runs (default 8g)
#   SPARK_HOME           Spark 4 distribution whose jars are loaded
#                        (default: the one of the spark-submit on PATH)
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
CLASSES="${GRAFT_BENCH_CLASSES:-$REPO/target/scala-2.13/classes}"
exec java -Xmx"${SPARK_DRIVER_MEM:-8g}" $AO \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$SPARK_HOME/jars/*" "$@"
