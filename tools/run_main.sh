#!/usr/bin/env bash
# Run a graft main class without sbt (no sbt startup, no build lock).
# Usage: tools/run_main.sh graft.Bench [args...]
# Env: SPARK_DRIVER_MEM (default 8g) plus whatever the main reads.
set -euo pipefail
cd "$(dirname "$0")/.."
# resources too: `sbt compile` does not copy src/main/resources (the
# kafka-replay DataSourceRegister) into the classes dir
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
