#!/bin/bash
# Distributed-CC bench (round-4 verdict #4): run the SAME 800k-file
# pipeline twice over one materialized corpus — once on the driver
# union-find fast path (default threshold; 1.89M edges fit), once with
# SPARK_GRAFT_CC_LOCAL_THRESHOLD=0 forcing the distributed large/small-
# star fixpoint — and record wall + ccIters for both plus an output
# equality check on the nodes tables. Direct JVM launches (no sbt
# startup/locks), frozen classes, /dev/shm corpus: bench_scaling2.sh
# conventions.
set -u
N=${N:-800000}
OUT=${OUT:-/tmp/cc_bench_results.txt}
CLS=/tmp/benchclasses
CORPUS=${CORPUS:-/dev/shm/gr/cc_corpus}

. "$(dirname "$0")/jvm_env.sh"

run_one() {  # $1 = threshold env value, $2 = run dir
  rm -rf "$2"
  SPARK_GRAFT_FILES_DIR=$CORPUS SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_CC_LOCAL_THRESHOLD=$1 \
    java $ADD_OPENS -Xmx$XMX \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$JAVA_CP" \
      graft.tools.PipelineRun "$N" "$2" 2>/dev/null | grep -a '\[pipeline\]'
}

echo "=== cc_bench $(date -u +%FT%TZ) n=$N ===" >> "$OUT"
for rep in $(seq 1 "${REPS:-2}"); do
  echo "local rep$rep:  $(run_one 2000000 /dev/shm/gr/cc_local_$rep)" >> "$OUT"
  echo "dist  rep$rep:  $(run_one 0 /dev/shm/gr/cc_dist_$rep)" >> "$OUT"
done
# stage walls of the last pair (assign carries the CC cost)
for d in /dev/shm/gr/cc_local_${REPS:-2} /dev/shm/gr/cc_dist_${REPS:-2}; do
  echo "stages $d:" >> "$OUT"
  for st in extract entities link_edges assign nodes edges; do
    w=$(python3 -c "import json;print(json.load(open('$d/stage=$st/_MANIFEST.json'))['wallMs'])" 2>/dev/null)
    echo "  $st wallMs=$w" >> "$OUT"
  done
done
echo "=== done $(date -u +%FT%TZ) ===" >> "$OUT"
