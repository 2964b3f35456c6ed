#!/bin/bash
# Scaling experiment driver (BENCH/BASELINE.md): corpus gen + one fresh JVM
# per timed run at local[2]/local[8]/local[32]. Usage: tools/scaling.sh [nDocs]
set -e
cd "$(dirname "$0")/.."
NDOCS=${1:-160000}
CORPUS=target/scaling_corpus.parquet
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g}
# GC threads pinned to box cores at EVERY level: dynamic GC-thread
# ergonomics key on app thread count — a single-JVM emulation artifact with
# no cluster counterpart (each executor owns its GC). See BENCH/BASELINE.md.
export SPARK_GRAFT_JVM_OPTS="${SPARK_GRAFT_JVM_OPTS:--XX:+AlwaysPreTouch -XX:ParallelGCThreads=32}"
# -Xms == -Xmx comes from build.sbt (pinned heap; growth-zeroing otherwise
# lands inside the timed region and costs ~2x wall at local[32])
echo "== gen $NDOCS docs"
sbt -batch "runMain graft.ScalingBench gen $NDOCS $CORPUS" >/dev/null 2>&1
# back-to-back single window: cross-window ratios are meaningless on this
# multi-tenant host (see BENCH/BASELINE.md noise appendix)
for C in 2 4 8 16 32; do
  echo "== run local[$C]"
  sbt -batch "runMain graft.ScalingBench run $C $CORPUS" 2>/dev/null | grep -o '{"cores".*}'
done
echo "== pick two JSON lines above (local[N] and local[4N]) and write BENCH/BASELINE.md:"
echo "   sbt -batch \"runMain graft.ScalingBench report $NDOCS <N> '<jsonN>' '<json4N>'\""
