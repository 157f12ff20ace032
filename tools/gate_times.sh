#!/bin/bash
# Time a list of gates in-process (graft.Bench with SPARK_GRAFT_BENCH_ONLY:
# one JVM, warm-up, median of 3 iterations per gate) in two built
# checkouts, alternating which goes first, and append each run's
# `{"metric":"total",...}` line, tagged with side and run number, to
# <out.jsonl>.
# Usage: tools/gate_times.sh <parent-checkout> <change-checkout>
#          <sf-dir> <q1,q2,...> <runs> <out.jsonl>
set -e
parent="$(cd "$1" && pwd)"; change="$(cd "$2" && pwd)"
sf="$3"; gates="$4"; runs="$5"; out="$6"
detail="$(mktemp)"
for i in $(seq 1 "$runs"); do
  if [ $((i % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    dir=$parent; [ "$side" = change ] && dir=$change
    line="$(cd "$dir" && SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_BENCH_ONLY="$gates" \
      SPARK_GRAFT_BENCH_DETAIL="$detail" tools/run.sh graft.Bench 2>/dev/null \
      | grep '^{"metric":"total"')"
    echo "{\"side\":\"$side\",\"run\":$i,\"r\":$line}" >> "$out"
  done
done
rm -f "$detail"
