#!/bin/bash
# Fast runner: java with the compiled classes + Spark jars (skips sbt startup).
# Usage: tools/run.sh <mainClass> [args...]
set -e
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-32g} -XX:ReservedCodeCacheSize=1g \
  -cp "$CP" "$@"
