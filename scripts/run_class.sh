#!/bin/bash
# Direct JVM runner for graft mains (no sbt lock):
#   scripts/run_class.sh graft.Inspect q_sim_ivf --sf <dir> [--reps n]
# JVM flags mirror build.sbt's forked run settings so timings are
# comparable with `sbt runMain`.
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-20g} \
  -Dspark.ui.enabled=false \
  -Dlog4j.configurationFile=/root/repo/src/test/resources/log4j2.properties \
  -Dspark.sql.session.timeZone=UTC \
  -Duser.timezone=America/Los_Angeles \
  -cp "$CP" "$@"
