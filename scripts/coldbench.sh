#!/bin/bash
# Cold-JVM bench of a gate subset via the raw-java runner (no sbt JVM):
#   scripts/coldbench.sh <out.json> <gates> [cpus] [extra JVM flags...]
# Uses the same module opens / heap / codecache as build.sbt javaOptions.
# Assumes `sbt compile` is current. Writes the bench artifact to <out.json>.
set -e
OUT="$1"; shift; GATES="$1"; shift; CPUS="${1:-32}"; [ $# -gt 0 ] && shift
CP="target/scala-2.13/classes:$(ls -d /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
OPENARGS=""
for p in $OPENS; do OPENARGS="$OPENARGS --add-opens=$p=ALL-UNNAMED"; done
SPARK_GRAFT_ONLY="$GATES" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_BENCH_OUT="$OUT" \
  java -XX:+IgnoreUnrecognizedVMOptions $OPENARGS \
  -Xmx8g -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "$@" \
  -cp "$CP" graft.Bench
