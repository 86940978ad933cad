#!/bin/bash
# java-direct runner for graft mains — same JVM flags sbt's `run / fork`
# injects (see build.sbt jdk17AddOpens), but without taking the sbt
# build lock, so a long verify/bench can run while compiles continue.
# Run `sbt compile` first: it runs target/scala-2.13/classes.
# Usage: tools/run_graft.sh <mainClass> [args...]
#   graft.Verify <sfDir> <outDir> [gate,gate,...]
#   graft.Bench                        (env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_ONLY)
#   graft.ScaleSoak [m1,m2,...]        (env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SOAK_ONLY)
#   graft.Probe <sfDir> <gate|prebuild:stage> ...
#   graft.ExplainTool <sfDir> <gate|stage:basket_pairs|stage:qm_pack> ...
# Every main runs on GraftSession.local: local[SPARK_GRAFT_CPUS], else
# every core. An unknown gate name fails before the session starts.
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS="java.base/java.lang java.base/java.lang.invoke \
java.base/java.lang.reflect java.base/java.io java.base/java.net \
java.base/java.nio java.base/java.util java.base/java.util.concurrent \
java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
FLAGS=()
for p in $OPENS; do FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-16g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
