#!/bin/bash
# Scaling-evidence matrix: pipeline at several parallelism levels over
# the same materialized corpus, interleaved reps to de-bias host noise.
# Results (one [pipeline] line each) append to $OUT.
set -u
cd "$(dirname "$0")/.."
N=${N:-200000}
OUT=${OUT:-/tmp/scaling_results.txt}
CORPUS=/dev/shm/gr/corpus
mkdir -p /dev/shm/gr
echo "=== scaling run $(date -u +%FT%TZ) n=$N ===" >> "$OUT"
for rep in 1 2 3; do
  for c in 1 4 2 8 16; do
    rd=/dev/shm/gr/run_c${c}_r${rep}
    rm -rf "$rd"
    line=$(SPARK_GRAFT_FILES_DIR=$CORPUS SPARK_GRAFT_CPUS=$c \
      sbt -batch "runMain graft.tools.PipelineRun $N $rd" 2>&1 | grep -a '\[pipeline\]')
    echo "cpus=$c rep=$rep $line" >> "$OUT"
    rm -rf "$rd"
  done
done
echo "=== done $(date -u +%FT%TZ) ===" >> "$OUT"
