#!/bin/bash
# The one shell copy of the JVM launch recipe: raw java (no sbt sibling
# JVM), the JDK-17 --add-opens set Spark needs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions), UI off, UTC session zone,
# heap from ${SPARK_DRIVER_MEM:-8g}. build.sbt's javaOptions carry the same
# recipe for forked runs and tests; change the two together.
#
# Run it from the repo root after `sbt -batch compile`:
#   tools/jvm.sh <main class> [args...]
# e.g. graft.tools.ScaleUp, graft.tools.SemDecade, graft.tools.SplitDensity.
#
# Sourced (`. tools/jvm.sh`), it only defines GRAFT_JVM (the java options)
# and GRAFT_JARS (the Spark classpath) for launchers that pick their own
# class tree or main class.
GRAFT_JARS="$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
GRAFT_JVM=("-Xmx${SPARK_DRIVER_MEM:-8g}")
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_JVM+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
GRAFT_JVM+=(-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC)

if [ "${BASH_SOURCE[0]}" = "$0" ]; then
  set -euo pipefail
  CLASS="${1:?usage: jvm.sh <class> [args...]}"
  shift
  exec java "${GRAFT_JVM[@]}" -cp "target/scala-2.13/classes:$GRAFT_JARS" \
    "$CLASS" "$@"
fi
