#!/bin/bash
# Run a graft main class directly against the compiled classes + the
# image's Spark jars, bypassing sbt — so long-running benches don't hold
# the sbt build lock while tests/compiles proceed in parallel.
# Usage: tools/runmain.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g) — same knob build.sbt honors.
set -euo pipefail
cd "$(dirname "$0")/.."
# GRAFT_CLASSES: override the classes dir (e.g. a snapshot copy, so a
# multi-hour bench keeps a stable classpath while sbt recompiles).
# SPARK_GRAFT_SPARK_JARS: Spark jars dir.
CP="${GRAFT_CLASSES:-target/scala-2.13/classes}:${SPARK_GRAFT_SPARK_JARS:-/opt/spark/jars}/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra JVM flags.
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$@"
