#!/bin/bash
# TailBench direct-JVM launcher (no sbt locks): copies compiled classes
# and runs graft.tools.TailBench with the given args.
set -u
BASES=${BASES:-"100000,200000,400000"}
M=${M:-500}
CLS=/tmp/tailclasses
rm -rf "$CLS"
cp -r /root/repo/target/scala-2.13/classes "$CLS"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SCALA_JARS=$(ls /root/.sbt/boot/scala-2.13.17/lib/*.jar 2>/dev/null | tr '\n' ':')
[ -z "$SCALA_JARS" ] && SCALA_JARS=$(find /root/.cache/coursier -name 'scala-library-2.13*.jar' 2>/dev/null | head -1):
# EXTRA_FLAGS: additional -D system properties (e.g. the
# manifest-planned-read kill switch -Dgraft.snapshots.manifestPlan=false
# for the listing-path A/B).
exec java $ADD_OPENS -Xmx${XMX:-24g} ${EXTRA_FLAGS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLS:${SCALA_JARS}/opt/spark/jars/*" \
  graft.tools.TailBench "$BASES" "$M"
