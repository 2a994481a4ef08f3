#!/bin/bash
# Run a graft main without sbt (classes must be compiled: sbt -batch compile).
# Usage: dev/run.sh graft.PlanAudit [args...]
# Mirrors build.sbt's forked-JVM options (JDK17 add-opens, locale, UTC, mem).
MAIN="$1"; shift
REPO="$(cd "$(dirname "$0")/.." && pwd)"
# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt compiles against
JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
JARS="${JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")}"
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Duser.language=en -Duser.country=US \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:$JARS/*" \
  "$MAIN" "$@"
