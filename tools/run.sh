#!/bin/bash
# Fast runner: java directly against compiled classes (skips sbt startup).
# Usage: tools/run.sh <mainClass> [args...]   e.g. tools/run.sh graft.Verify <sfDir> <outDir>
# The classpath is this checkout's compiled classes plus src/main/resources
# (the DataSourceRegister service file that resolves `graftsnap`, which a
# bare `sbt compile` does not copy into the classes dir) and Spark's jars.
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MAIN="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$REPO/src/main/resources:${SPARK_HOME:-/opt/spark}/jars/*" \
  "$MAIN" "$@"
