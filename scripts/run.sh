#!/usr/bin/env bash
# Fast runner: java against compiled classes + /opt/spark/jars, with the
# JDK17 add-opens Spark needs (mirrors build.sbt javaOptions).
# Usage: scripts/run.sh <mainClass> [args...]
set -euo pipefail
CLASSES=/root/repo/target/scala-2.13/classes
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
