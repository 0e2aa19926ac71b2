#!/usr/bin/env bash
# Run graft.Bench (or any graft main: pass the class as $1, query filter as
# $2) from the prebuilt classes, skipping sbt startup/compile entirely.
# sbt load + compile-check is ~40-60 s of pure overhead on the driver's
# bench budget; BENCH_r03 hit rc=124 partly on that. Build first:
#   sbt -batch package        # or: sbt -batch compile
# then:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/bench.sh
set -euo pipefail
cd "$(dirname "$0")/.."

MAIN="${1:-graft.Bench}"
CLASSES="target/scala-2.13/classes"
JAR=$(ls -t target/scala-2.13/*.jar 2>/dev/null | head -1 || true)
# `sbt compile` does not copy src/main/resources into the classes dir, so
# the source tree's resources go on the classpath after it: without them
# the graft-lake-cdc DataSourceRegister service file is missing and the
# stream_lake_cdc_source gate fails with DATA_SOURCE_NOT_FOUND.
if [[ -d "$CLASSES" ]]; then CP="$CLASSES:src/main/resources"; elif [[ -n "$JAR" ]]; then CP="$JAR";
else echo "no build output under target/scala-2.13 — run: sbt -batch package" >&2; exit 1; fi

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done

exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -Dspark.ui.showConsoleProgress=false \
  -cp "$CP:/opt/spark/jars/*" "$MAIN" "${@:2}"
