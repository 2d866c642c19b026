#!/bin/bash
# Run a graft main class directly against the compiled classes (no sbt
# lock contention; sbt -batch Test/compile must have run first). Usage:
#   SPARK_GRAFT_CPUS=4 dev/probe.sh graft.probe.Probe queue 20000 50 64 linear 10
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# the Spark jars the build compiles against (build.sbt's unmanagedBase)
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CP="$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# -XX:-OmitStackTraceInFastThrow: the streaming disposition classifies by
# throw site; fast-throw would strip stacks mid-replay-loop
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -XX:-OmitStackTraceInFastThrow \
  -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
