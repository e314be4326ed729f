#!/bin/bash
# TailBench direct-JVM launcher (no sbt locks): copies compiled classes
# and runs graft.tools.TailBench with the given args.
set -u
BASES=${BASES:-"100000,200000,400000"}
M=${M:-500}
CLS=/tmp/tailclasses
. "$(dirname "$0")/jvm_env.sh"
# EXTRA_FLAGS: additional JVM flags (e.g. -D system properties).
exec java $ADD_OPENS -Xmx$XMX ${EXTRA_FLAGS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$JAVA_CP" \
  graft.tools.TailBench "$BASES" "$M"
