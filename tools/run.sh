#!/bin/bash
# Direct JVM launcher for graft mains (no sbt runtime overhead).
# Usage: tools/run.sh <mainClass> [args...]
# Runs the classes of the checkout this script sits in:
# <dir>/tools/run.sh puts <dir>/target/scala-2.13/classes on the classpath.
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
if [ ! -d "$CLASSES/graft" ]; then
  echo "run.sh: no compiled graft classes under $CLASSES (run sbt compile)" >&2
  exit 2
fi
MAIN=$1; shift
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
