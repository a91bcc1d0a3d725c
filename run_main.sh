#!/bin/bash
# Run a graft main class directly (no sbt) — same JVM flags as build.sbt.
# The classpath is the compiled tree next to this script plus the Spark jar
# directory build.sbt compiles against, so any checkout runs.
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$HERE/build.sbt")"
CP="$HERE/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp "$CP" "$@"
