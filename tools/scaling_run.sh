#!/bin/bash
# Direct-java launcher for graft.Scaling single-run mode (bypasses the sbt
# project lock). Usage:
#   SPARK_GRAFT_SCALE_CPUS=4 SPARK_GRAFT_SCALE_EDGES_DIR=... tools/scaling_run.sh
# Env passes straight through (knobs: README "Environment knobs"); heap via
# SPARK_GRAFT_SCALE_HEAP, default 30g as for the legs Scaling forks itself.
set -e
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${SPARK_GRAFT_SCALE_HEAP:-30g}"
exec java $ADD_OPENS -Xmx"$HEAP" -XX:+UseZGC -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Scaling "$@"
