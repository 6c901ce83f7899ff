#!/bin/sh
# Launch a graft main in a FRESH plain-java JVM (no sbt): the fresh-JVM
# spot/probe protocols run dozens of single-query JVMs, and each
# `sbt -batch runMain` launch pays ~25-35 s of sbt/zinc startup — pure
# harness overhead that lands inside nothing we measure but stretches a
# 22-query x 3-sample spot run by ~an hour. This replicates build.sbt's
# forked-run JVM exactly: same --add-opens set (Spark 4.x on JDK 17
# outside spark-submit), same sysprops, same SPARK_DRIVER_MEM-sized heap,
# classpath = compiled classes + /opt/spark/jars (which ships
# scala-library). Run `sbt compile` first; this script never compiles.
#
# Usage: SPARK_GRAFT_SF_DIR=... tools/java_run.sh graft.Bench [query...]
#        tools/java_run.sh graft.PlanCheck <sfDir> [query...]
#        tools/java_run.sh graft.Verify <sfDir> <outDir> [query...]
#        tools/java_run.sh graft.Probe <bound|lsh-skew|recall> <sfDir> [args...]
# Bench, PlanCheck and the probes run local[N], N = SPARK_GRAFT_CPUS, else
# every core (graft.LocalSession).
set -e
[ $# -ge 1 ] || { echo "usage: java_run.sh <main> [args...]" >&2; exit 2; }
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first: $CLASSES missing" >&2; exit 2; }
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
