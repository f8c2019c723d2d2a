#!/bin/bash
# Dev-only: run a graft main class directly on the compiled classes,
# bypassing sbt (no build-lock contention, no sbt JVM overhead).
# Usage: dev/run.sh <MainClass> [args...]   (env: SPARK_GRAFT_* as usual)
# NOTE: `sbt compile` first — this does not compile. src/main/resources is
# on the classpath directly (as in perfbench/build.py), so no copyResources.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MAIN="$1"; shift
exec java \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --enable-native-access=ALL-UNNAMED \
  -Djdk.reflect.useDirectMethodHandle=false \
  -Dderby.system.home=/tmp/derby_dev \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars/*" \
  "$MAIN" "$@"
