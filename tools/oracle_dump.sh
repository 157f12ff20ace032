#!/bin/bash
# Print every registered query's oracle SQL (see OracleDump.scala).
# Usage, from a checkout whose classes are built (sbt compile):
#   tools/oracle_dump.sh <checkout> > <out.jsonl>
set -e
here="$(cd "$(dirname "$0")" && pwd)"
repo="$(cd "$1" && pwd)"
out="$(mktemp -d)"
jars="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -n "$jars" ] || jars="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$repo/build.sbt")"
cp="$repo/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp \
  -cp "$cp" -d "$out" "$here/OracleDump.scala"
java -Xmx1g -cp "$out:$cp" graft.sources.OracleDump
rm -rf "$out"
