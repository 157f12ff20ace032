#!/bin/bash
# Dump License gold's optimised plan and count its parquet input
# relations (see LicensePlan.scala). Usage, from a checkout whose
# benchmark classes are built (python3 perfbench/build.py):
#   plans/pr8/license_plan.sh <checkout> <plan-output-file>
set -e
here="$(cd "$(dirname "$0")" && pwd)"
repo="$(cd "$1" && pwd)"
out="$(mktemp -d)"
# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt declares
jars="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -n "$jars" ] || jars="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$repo/build.sbt")"
cp="$repo/.bench_build/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp \
  -cp "$cp" -d "$out" "$here/LicensePlan.scala"
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
java $opens -Xmx2g -Dspark.sql.session.timeZone=UTC \
  -cp "$out:$cp" perfbench.LicensePlan "$out/inputs" "$2"
rm -rf "$out"
