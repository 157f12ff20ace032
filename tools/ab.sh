#!/bin/bash
# Alternating parent/change A/B of the intake benchmark.
# Usage: tools/ab.sh <parent-checkout> <change-checkout> <workload> <pairs> <out.jsonl> [first-seed]
# Pair i runs seed i (from first-seed, default 1) on both sides; odd pairs run the parent first,
# even pairs the change first. Each line of <out.jsonl> is one run:
# {"side":…,"seed":…,"r":<run.py's last stdout line>}.
set -u
parent=$1 change=$2 workload=$3 pairs=$4 out=$5 first=${6:-1}
run() {  # side dir seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" \
    --seed "$3" --seconds 6 --trace 0 2>/dev/null | tail -1)
  echo "{\"side\":\"$1\",\"seed\":$3,\"r\":${line:-null}}" >> "$out"
}
for i in $(seq "$first" $((first + pairs - 1))); do
  if [ $((i % 2)) -eq 1 ]; then
    run parent "$parent" "$i"; run change "$change" "$i"
  else
    run change "$change" "$i"; run parent "$parent" "$i"
  fi
done
