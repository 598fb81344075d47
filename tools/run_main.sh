#!/bin/bash
# Direct `java` runner for graft mains (Bench/Verify/Main…):
# same JVM flags as build.sbt's forked run, no sbt startup. Usage:
#   tools/run_main.sh graft.Bench [args…]
#   tools/run_main.sh graft.Main perf <query…>      (also: audit, plans)
#   tools/run_main.sh -Dspark.graft.columnar.enabled=false graft.Main perf <query…>
# JVM options (`-D…`) go before the class name; `spark.*` system properties
# reach the session conf.
# Requires a prior `sbt compile Compile/copyResources` (plain `compile`
# does NOT copy src/main/resources — after a clean build the classes dir
# lacks META-INF/services/…DataSourceRegister and mains touching
# format("graft-log") fail until resources are copied; any runMain/test/
# package also copies them). The fallback below also puts
# src/main/resources itself on the classpath so a compile-only tree works.
set -euo pipefail
CLASSES="$(dirname "$0")/../target/scala-2.13/classes"
RESOURCES="$(dirname "$0")/../src/main/resources"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CLASSES:$RESOURCES:/opt/spark/jars/*" "$@"
