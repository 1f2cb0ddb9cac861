#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars,
# bypassing sbt (so measurement/plan-capture passes can run while sbt owns
# the project lock). Mirrors build.sbt's forked-run JVM flags exactly:
# same --add-opens set, -Xmx (SPARK_DRIVER_MEM, else half of MemTotal
# clamped to 2-8 GiB), ReservedCodeCacheSize
# (SPARK_GRAFT_CODECACHE), and the tmpfs local dir when available.
# Usage: tools/run_graft.sh <MainClass> [args...]
set -u
MAIN="$1"; shift
CP="${SPARK_GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
if [ -z "${SPARK_DRIVER_MEM:-}" ]; then
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
fi
TMPOPTS=""
if [ -d /dev/shm/graft-tmp ] || mkdir -p /dev/shm/graft-tmp 2>/dev/null; then
  TMPOPTS="-Djava.io.tmpdir=/dev/shm/graft-tmp -Dspark.local.dir=/dev/shm/graft-tmp"
fi
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$SPARK_DRIVER_MEM" \
  -XX:ReservedCodeCacheSize="${SPARK_GRAFT_CODECACHE:-768m}" \
  $TMPOPTS \
  ${SPARK_GRAFT_JVM_EXTRA:-} \
  -cp "$CP" "$MAIN" "$@"
