#!/bin/bash
# Run a graft main directly on the compiled classes (bypasses sbt's project
# lock and JVM startup): tools/run_main.sh graft.Explain [args...]
# Requires a prior `sbt compile`. Runs the classes of the checkout this
# script lives in, from the caller's working directory.
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
