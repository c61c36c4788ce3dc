#!/bin/bash
# Run a graft main class against compiled classes + Spark jars, bypassing
# sbt's slow forked-run path. Usage: tools/run.sh graft.Verify <args...>
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra -D flags (e.g. a spark.* conf such as the
# RocksDB state-store provider) picked up by SparkSession.builder. The
# UI, time zone, master and shuffle partitions are set by
# graft.GraftSession, whose values win over a -D flag.
exec java $ADD_OPENS $GRAFT_JAVA_OPTS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
