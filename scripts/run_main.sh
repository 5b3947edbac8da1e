#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (bypasses sbt startup). Usage: scripts/run_main.sh graft.Verify ARGS...
# src/main/resources rides on the classpath so its META-INF/services (the
# "zipcsv" short name) resolves after a bare `sbt compile`.
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" "$@"
