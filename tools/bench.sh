#!/bin/bash
# Plain-java bench runner (no sbt decoration): the compact summary JSON is
# the literal last stdout line, so the driver's tail-parse always succeeds.
# Usage: [SPARK_GRAFT_SF_DIR=...] [SPARK_GRAFT_CPUS=N] [SPARK_GRAFT_JAVA_OPTS=...]
#        tools/bench.sh [main-class, default graft.Bench] [args...]
# A session setting (graft.Session) is overridden by Spark's own system
# property, e.g. the sort-merge-join A/B of the bench:
#   SPARK_GRAFT_JAVA_OPTS=-Dspark.sql.join.preferSortMergeJoin=true tools/bench.sh
# Isolated timings of a few queries in one JVM:
#   tools/bench.sh graft.tools.Probe time <sfDir> <q1,q2,...> [passes]
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="${1:-graft.Bench}"
[ $# -gt 0 ] && shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS ${SPARK_GRAFT_JAVA_OPTS:-} \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
