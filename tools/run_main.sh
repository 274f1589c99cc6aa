#!/usr/bin/env bash
# Direct-JVM launcher for graft mains: same classpath and JDK-17
# --add-opens set as build.sbt's forked `sbt runMain`, without sbt's
# project lock — so a long generator/measurement job and an sbt
# compile/test can't queue behind each other.
#
#   tools/run_main.sh graft.ScaleGen 8.0 target/scale/sf8.0
#
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_JVM_OPTS (extra
# flags, whitespace-split — same limitation as build.sbt; a -Dspark.*
# flag overrides any graft.GraftSession setting).
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first ($CLASSES missing)" >&2; exit 1; }
ADD_OPENS=()
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS+=(--add-opens "$p=ALL-UNNAMED")
done
# shellcheck disable=SC2086  # SPARK_GRAFT_JVM_OPTS is deliberately word-split
exec java "${ADD_OPENS[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${SPARK_GRAFT_JVM_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
