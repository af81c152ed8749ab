#!/bin/bash
# Start an engine main on a plain JVM: the module opens Spark 4 needs on
# JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
# and the compiled classes plus the Spark jars on the class path. The
# engine's session settings come from graft.EngineSession, not from here.
# Usage: tools/engine_java.sh HEAP [JVM_OPTION ...] MAIN_CLASS [ARG ...]
#   e.g. tools/engine_java.sh 8g graft.Bench
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
HEAP=$1
shift
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${OPENS[@]}" -Xmx"$HEAP" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
