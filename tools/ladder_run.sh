#!/bin/bash
# Record the full multi-tier bench ladder at HEAD (VERDICT r12 #1) —
# one quiet-box graft.Bench run per tier, merged + provenance-stamped
# via ladder_update.py, note regenerated from the data each merge.
#
# Tiers: sf0_1 (driver data), sf1x (10x fact replicas), sf10 (100x),
# emb25 (embedding-scaled), skew01 (hot-user events), docs10
# (documents x10, token-salted). The sf0_1 run additionally records
# the four *_mb multi-micro-batch streaming rates over a sliced
# events copy (>= 3 batches, watermark finalization across batches).
#
# Usage: tools/ladder_run.sh [tier ...]   # default: all six
set -e
cd /root/repo
if [ "${SKIP_BUILD:-0}" != "1" ]; then
  sbt -batch package Test/compile > /tmp/sbt_ladder.log 2>&1 \
    || { tail -30 /tmp/sbt_ladder.log; exit 1; }
fi
declare -A DIRS=(
  [sf0_1]=/root/testdata/sf0.1 [sf1x]=/tmp/sf1x [sf10]=/tmp/sf10
  [emb25]=/tmp/emb25 [skew01]=/tmp/skew01 [docs10]=/tmp/docs10 )
TIERS=${@:-"sf0_1 sf1x sf10 emb25 skew01 docs10"}
for tier in $TIERS; do
  log=/tmp/bench_${tier}.log
  if [ "$tier" = sf0_1 ]; then
    python3 tools/make_stream_slices.py /root/testdata/sf0.1 /tmp/stream_sf0_1 8
    export SPARK_GRAFT_STREAM_SLICES=/tmp/stream_sf0_1
  else
    unset SPARK_GRAFT_STREAM_SLICES
  fi
  echo "=== $tier (${DIRS[$tier]}) $(date -u +%H:%M:%SZ)"
  # >=3 interleaved passes (VERDICT r13 #5): two passes could not
  # adjudicate a 1.6-2.9x tail from a dirty box - with three, at least
  # two samples land outside any single sustained load window
  SKIP_BUILD=1 SPARK_GRAFT_SF_DIR=${DIRS[$tier]} SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_REPEAT=${SPARK_GRAFT_BENCH_REPEAT:-3} \
    SPARK_DRIVER_MEM=48g tools/run.sh graft.Bench > "$log" 2>&1
  echo "LOADAVG $(cut -d' ' -f1-3 /proc/loadavg)" >> "$log"
  python3 tools/ladder_update.py "$tier" "$log"
done
python3 tools/ladder_update.py verify
