#!/bin/bash
# Run a graft main class directly against the Spark jars (faster than sbt).
# Usage: tools/run_class.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
CLS="$1"; shift
# src/main/resources carries the META-INF/services registration of the
# product-tree V2 source, which `sbt compile` does not copy
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_HOME="${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
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
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$SPARK_HOME/jars/*" \
  "$CLS" "$@"
