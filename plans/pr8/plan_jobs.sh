#!/bin/bash
# Count the Spark jobs TxLog's readers submit while planning (see
# TxLogPlanJobs.scala). Usage, from a checkout whose classes are built
# (sbt compile):
#   plans/pr8/plan_jobs.sh <checkout> nary   # prunedRead(spark, dir, ranges)
#   plans/pr8/plan_jobs.sh <checkout> single # prunedRead(spark, dir, col, lo, hi)
set -e
here="$(cd "$(dirname "$0")" && pwd)"
repo="$(cd "$1" && pwd)"
case "$2" in
  nary)   call='TxLog.prunedRead(spark, t, Seq(("k", 10L, 20L)))' ;;
  single) call='TxLog.prunedRead(spark, t, "k", 10L, 20L)' ;;
  *) echo "second argument: nary | single" >&2; exit 2 ;;
esac
out="$(mktemp -d)"
sed "s/PRUNED/$call/" "$here/TxLogPlanJobs.scala" > "$out/TxLogPlanJobs.scala"
# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt declares
jars="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -n "$jars" ] || jars="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$repo/build.sbt")"
cp="$repo/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp \
  -cp "$cp" -d "$out" "$out/TxLogPlanJobs.scala"
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
java $opens -Xmx2g -Dspark.sql.session.timeZone=UTC \
  -cp "$out:$cp" org.apache.spark.graftprobe.TxLogPlanJobs
rm -rf "$out"
