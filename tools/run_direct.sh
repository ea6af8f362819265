#!/bin/bash
# Direct JVM runner for graft mains (bypasses sbt locks; same JVM options
# as build.sbt's forked run). Usage: tools/run_direct.sh graft.Bench [args...]
# Runs the classes `sbt compile` left in the checkout this script lives in.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# Spark's jars: SPARK_HOME, else the installation that holds spark-submit
if [ -z "$SPARK_HOME" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
[ -d "$SPARK_HOME/jars" ] || {
  echo "run_direct.sh: no Spark jars; set SPARK_HOME to a Spark install" >&2
  exit 1
}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" "$@"
