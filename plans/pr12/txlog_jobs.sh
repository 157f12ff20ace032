#!/bin/bash
# Count the Spark jobs of TxLog.commitWithBloom and TxLog.deleteWhere
# (see TxLogJobs.scala).
# Usage, from a checkout whose classes are built (sbt compile):
#   txlog_jobs.sh <checkout>
set -e
here="$(cd "$(dirname "$0")" && pwd)"
repo="$(cd "$1" && pwd)"
out="$(mktemp -d)"
# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt declares
jars="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -n "$jars" ] || jars="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$repo/build.sbt")"
cp="$repo/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp \
  -cp "$cp" -d "$out" "$here/TxLogJobs.scala"
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
java $opens -Xmx2g -Dspark.sql.session.timeZone=UTC \
  -cp "$out:$cp" org.apache.spark.graftprobe.TxLogJobs
rm -rf "$out"
