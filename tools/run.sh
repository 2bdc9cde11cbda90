#!/bin/bash
# Run a graft main class against the compiled classes without sbt startup
# overhead. Usage: tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/out
# Mains: graft.Verify, graft.Bench, graft.QueryProfile (per-query layer
# profile, e.g. tools/run.sh graft.QueryProfile q12_ <sfDir> --runs 3
# --plan formatted --stages 10), graft.jira.JiraMain.
set -e
CLASSES=/root/repo/target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS $SPARK_GRAFT_EXTRA_JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
