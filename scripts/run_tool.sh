#!/usr/bin/env bash
# Run a graft main (Bench, Verify, tools.*) as plain java against the
# sbt-compiled classes - no sbt lock, so compiles/tests and long-running
# sweeps can proceed concurrently. Mirrors build.sbt's forked-run JVM
# options (JDK17 add-opens, UTC, no UI, SPARK_DRIVER_MEM heap).
#   scripts/run_tool.sh graft.tools.Trace <sfDir> e_pagerank_types 3
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  --add-modules=jdk.incubator.vector \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
