#!/bin/bash
# Round-4 ladder campaign (shipped config): byte-budgeted auto batch size +
# pinned GC threads. Interleaved rounds so co-tenant windows hit all levels
# alike; session minima are the estimator (BENCH/BASELINE.md).
#
# -XX:ParallelGCThreads=32 (box cores) at EVERY level: GC belongs to the
# executor infrastructure, which the single-JVM emulation must hold constant
# across parallelism levels — JDK dynamic GC-thread ergonomics key on the
# application thread count, an artifact with no counterpart on a real
# cluster (each executor owns its GC capacity regardless of cluster size).
set -e
cd "$(dirname "$0")/.."
CORPUS=target/scaling_corpus.parquet
OUT=${1:-/tmp/ladder_r4b.jsonl}
: > "$OUT"
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g}
export SPARK_GRAFT_JVM_OPTS="${SPARK_GRAFT_JVM_OPTS:--XX:+AlwaysPreTouch -XX:ParallelGCThreads=32}"
for ROUND in 1 2 3; do
  for C in 2 8 32; do
    LINE=$(sbt -batch "runMain graft.ScalingBench run $C $CORPUS" 2>/dev/null | grep -o '{"cores".*}' || echo '{}')
    echo "{\"round\":$ROUND,\"mode\":\"raw\",\"r\":$LINE}" >> "$OUT"
  done
  LINE=$(sbt -batch "runMain graft.ScalingBench stats 32 $CORPUS" 2>/dev/null | grep -o '{"mode".*}' || echo '{}')
  echo "{\"round\":$ROUND,\"mode\":\"stats\",\"r\":$LINE}" >> "$OUT"
done
echo DONE >> "$OUT"
