#!/bin/bash
# Run a graft main class directly against compiled classes + Spark jars,
# skipping sbt's JVM startup and build lock. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh graft.Bench
# (Bench writes bench_full.json into the working directory.)
set -e
# the classes of the checkout this script sits in
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
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
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
