#!/bin/bash
# Run a graft main class directly with java (avoids sbt JVM startup per run).
# Usage: scripts/run.sh graft.Verify /root/testdata/sf0.01 /tmp/g/verify
# Refresh /tmp/g/cp.txt after dependency changes:
#   sbt -batch "export Runtime/fullClasspath" | grep -v '^\[' | tail -1 > /tmp/g/cp.txt
set -e
if [ ! -r /tmp/g/cp.txt ]; then
  echo "run.sh: /tmp/g/cp.txt is missing; refresh it from the repo root with:" >&2
  echo "  mkdir -p /tmp/g && sbt -batch \"export Runtime/fullClasspath\" | grep -v '^\\[' | tail -1 > /tmp/g/cp.txt" >&2
  exit 1
fi
CP=$(cat /tmp/g/cp.txt)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS $JAVA_EXTRA -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
