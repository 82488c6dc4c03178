#!/bin/bash
# Run a graft main class directly against the sbt-compiled classes +
# /opt/spark/jars, skipping sbt JVM startup. Usage:
#   tools/run_graft.sh [-C workdir] graft.Dev time q315_mann_kendall 5
# Env passthrough: SPARK_GRAFT_* as usual; SPARK_DRIVER_MEM (default 8g).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORKDIR="$PWD"
if [ "${1:-}" = "-C" ]; then WORKDIR="$2"; shift 2; fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
cd "$WORKDIR"
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
