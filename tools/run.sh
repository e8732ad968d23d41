#!/bin/bash
# Fast runner: java against the packaged jar + /opt/spark/jars, skipping sbt
# startup. Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# The jar is this checkout's own (target/ next to this script's tools/ dir),
# so a second checkout runs its own build, never another one's.
set -e
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
JAR=$(ls "$ROOT"/target/scala-2.13/*.jar 2>/dev/null | head -1)
if [ -z "$JAR" ]; then
  echo "tools/run.sh: no jar in $ROOT/target/scala-2.13 (run 'sbt package' there first)" >&2
  exit 1
fi
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$JAR:/opt/spark/jars/*" "$@"
