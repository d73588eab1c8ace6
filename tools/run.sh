#!/bin/bash
# Run a graft main class directly against compiled classes + /opt/spark/jars
# (bypasses sbt startup). Usage: tools/run.sh graft.Verify <sfdir> <outdir>
set -e
# the checkout this script lives in, so any clone runs its own classes
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: half of physical memory, clamped to 2-8 GB, so a heavy
# main hits its own OutOfMemoryError before the host kills it
if [ -z "$SPARK_DRIVER_MEM" ]; then
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
    /proc/meminfo 2>/dev/null || echo 2g)"
fi
# session settings (cores, UTC, UI off, ...) live in graft.Sessions
exec java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
