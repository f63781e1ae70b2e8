#!/usr/bin/env bash
# Run a driver-contract main (default graft.Verify) WITHOUT sbt — same
# classpath (compiled classes + /opt/spark/jars) and the same JDK17
# add-opens that build.sbt's `run / javaOptions` injects. Used by the
# multi-JVM and determinism sweeps so long Verify chains don't hold the
# sbt build lock. Compile first: `sbt -batch compile package`.
#
# Usage:
#   tools/run_verify.sh <sfDir> <outDir> [queryName...]
# Env:
#   SPARK_GRAFT_CPUS    core count for local mode (default: all cores)
#   SPARK_GRAFT_MASTER  e.g. local-cluster[2,8,4096] (multi-JVM mode;
#                       SPARK_SCALA_VERSION and SPARK_GRAFT_JARS are set
#                       automatically for it)
#   GRAFT_MAIN          alternative main class (default graft.Verify)
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
# GRAFT_CLASSES/GRAFT_JAR point a long sweep at a frozen snapshot of the
# build output, so recompiles in the working tree can't swap class files
# under a running JVM.
CLASSES="${GRAFT_CLASSES:-$REPO/target/scala-2.13/classes}"
DEFAULT_JAR="$(ls -t "$REPO"/target/scala-2.13/*.jar 2>/dev/null | head -1 || true)"
JAR="${GRAFT_JAR:-$DEFAULT_JAR}"
[ -d "$CLASSES" ] || { echo "compile first: sbt -batch compile package" >&2; exit 1; }

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

if [ -n "${SPARK_GRAFT_MASTER:-}" ]; then
  export SPARK_SCALA_VERSION=2.13          # executor launcher needs it
  export SPARK_GRAFT_JARS="${SPARK_GRAFT_JARS:-$JAR}"
  [ -f "$SPARK_GRAFT_JARS" ] || { echo "package first: sbt -batch package" >&2; exit 1; }
fi

exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "${GRAFT_MAIN:-graft.Verify}" "$@"
