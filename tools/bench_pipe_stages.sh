#!/bin/bash
# Pipeline reps with per-stage walls from the stage manifests.
# Env: N (files), CPUS, REPS, CORPUS, OUT
set -u
N=${N:-200000}
CPUS=${CPUS:-32}
REPS=${REPS:-3}
CORPUS=${CORPUS:-/dev/shm/gr/corpus200}
OUT=${OUT:-/tmp/pipe_stages.txt}
CLS=/tmp/benchclasses
. "$(dirname "$0")/jvm_env.sh"
echo "=== pipe_stages $(date -u +%FT%TZ) n=$N cpus=$CPUS reps=$REPS cls=$(git -C "$REPO" rev-parse --short HEAD) ===" >> "$OUT"
for rep in $(seq 1 "$REPS"); do
  rd=/dev/shm/gr/ps_c${CPUS}_r${rep}
  rm -rf "$rd"
  line=$(SPARK_GRAFT_FILES_DIR=$CORPUS SPARK_GRAFT_CPUS=$CPUS ${EXTRA_ENV:+env $EXTRA_ENV} \
    java $ADD_OPENS -Xmx$XMX \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$JAVA_CP" \
      graft.tools.PipelineRun "$N" "$rd" 2>/dev/null | grep -a '\[pipeline\]')
  stages=$(python3 - "$rd" <<'PY'
import json, sys, glob
rd = sys.argv[1]
out = []
for st in ["extract","entities","link_edges","assign","nodes","edges"]:
    try:
        m = json.load(open(f"{rd}/stage={st}/_MANIFEST.json"))
        out.append(f"{st}={m['wallMs']/1000:.1f}s")
    except Exception:
        out.append(f"{st}=?")
print(" ".join(out))
PY
)
  echo "cpus=$CPUS rep=$rep $line | $stages" >> "$OUT"
  rm -rf "$rd"
done
echo "=== done $(date -u +%FT%TZ) ===" >> "$OUT"
