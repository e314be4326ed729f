#!/bin/bash
# Scaling matrix v2: direct JVM launches (no sbt startup/locks) from a
# frozen copy of the compiled classes, alternating configs, many reps.
set -u
N=${N:-200000}
REPS=${REPS:-6}
CPUS_LIST=${CPUS_LIST:-"1 4"}
OUT=${OUT:-/tmp/scaling2_results.txt}
CLS=/tmp/benchclasses
CORPUS=${CORPUS:-/dev/shm/gr/corpus}

. "$(dirname "$0")/jvm_env.sh"

echo "=== scaling2 $(date -u +%FT%TZ) n=$N reps=$REPS ===" >> "$OUT"
for rep in $(seq 1 "$REPS"); do
  for c in $CPUS_LIST; do
    rd=/dev/shm/gr/j_c${c}_r${rep}
    rm -rf "$rd"
    line=$(SPARK_GRAFT_FILES_DIR=$CORPUS SPARK_GRAFT_CPUS=$c \
      java $ADD_OPENS -Xmx$XMX \
        -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
        -cp "$JAVA_CP" \
        graft.tools.PipelineRun "$N" "$rd" 2>/dev/null | grep -a '\[pipeline\]')
    echo "cpus=$c rep=$rep $line" >> "$OUT"
    rm -rf "$rd"
  done
done
echo "=== done $(date -u +%FT%TZ) ===" >> "$OUT"
