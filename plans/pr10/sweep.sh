#!/bin/bash
# ×1/×2/×4 ScaleProbe sweep over the 10 slowest queries by the prior
# medians in the committed BENCH_DETAIL.json, one timed run per point.
# Usage (from the repo root, after `sbt compile`):
#   plans/pr10/sweep.sh <sf-dir> <out.txt>
# The probe's stdout lines go to <out.txt>; Spark's log stays on stderr.
set -eu
sf=$1 out=$2
queries=q468_stream_graph_ingest,q457_graph_ann_insert,q514_graph_compacted_serve
queries=$queries,q452_beam_serve,q474_hnsw_auto_stack,q214_incremental_dedup
queries=$queries,q458_graph_ann_delete,q454_training_shard,q522_index_policy_serve
queries=$queries,q521_graph_drift_rebuild
{
  echo "# $(date -u +%FT%TZ) $(nproc) cores, SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}, iters=1"
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} SPARK_GRAFT_BENCH_ITERS=1 \
    SPARK_GRAFT_PROBE_ONLY=$queries tools/run.sh graft.ScaleProbe "$sf" 1 2 4
} > "$out"
