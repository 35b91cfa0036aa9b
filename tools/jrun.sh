#!/bin/bash
# dev helper: run a graft main (Verify, Bench, BenchScale, or the Dev CLI,
# e.g. `tools/jrun.sh graft.Dev plan /root/testdata/sf0.001`) with the same
# JVM options sbt's forked runs use (Spark 4 on JDK 17 needs the add-opens;
# raw `java -cp` does not get them and fails on e.g. date decoding via
# sun.util.calendar).
#
# Classpath is built directly (compiled classes + the Spark jar dir, which
# includes RoaringBitmap) so it survives `sbt clean` — no cached export.
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dfile.encoding=UTF-8 -Dsun.jnu.encoding=UTF-8 -Xmx${SPARK_DRIVER_MEM:-16g} \
  -cp "$CP" "$@"
