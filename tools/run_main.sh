#!/usr/bin/env bash
# Run a graft main class against the compiled classes + the local Spark
# jars WITHOUT sbt (so long-running scale probes don't hold the sbt build
# lock). Usage: tools/run_main.sh [-JXmx48g] <mainClass> [args...]
# The heap is SPARK_DRIVER_MEM (as in build.sbt), 48g when unset; a -J
# flag overrides it.
# Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR etc. pass through untouched.
# Tools: tools/run_main.sh graft.tools.Probe <subcommand> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
HEAP="-Xmx${SPARK_DRIVER_MEM:-48g}"
if [[ "${1:-}" == -J* ]]; then HEAP="-${1#-J}"; shift; fi
exec java "$HEAP" -XX:+IgnoreUnrecognizedVMOptions \
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
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
