#!/bin/bash
# Run a graft main directly (no sbt lock) with the same JVM options
# build.sbt gives forked runs. Usage:
#   tools/run_main.sh graft.Probe streamlake /tmp/sf3 attrib
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_CPUS pass-through.
set -euo pipefail
# classes of the checkout this script lives in (build them with `sbt compile`)
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
