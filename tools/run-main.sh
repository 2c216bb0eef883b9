#!/bin/bash
# Direct JVM runner for the measurement mains (TuneScale/Bench/...):
# same flags build.sbt gives forked runs, but without the sbt project
# lock, so long ladder builds can run as parallel OS processes. Runs
# the classes compiled in the checkout that holds this script.
# Compile first (sbt -batch compile).
#   SPARK_DRIVER_MEM=48g tools/run-main.sh graft.TuneScale
set -euo pipefail
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
MEM=${SPARK_DRIVER_MEM:-8g}
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens ${p}=ALL-UNNAMED"
done
mkdir -p /dev/shm/graft-tmp
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx"$MEM" \
  -Djava.io.tmpdir=/dev/shm/graft-tmp \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
