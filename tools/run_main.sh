#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no target-dir lock, so long benchmarks don't block
# compilation). Compile first: sbt -batch compile.
# Usage: tools/run_main.sh graft.tools.UpdateRateSweep
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
