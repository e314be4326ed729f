# Shared preamble of the direct-JVM launchers in tools/ (no sbt startup
# or project lock). Source it from a launcher:
#
#   CLS=/tmp/benchclasses   # optional: where the frozen classes go
#   . "$(dirname "$0")/jvm_env.sh"
#   java $ADD_OPENS -Xmx$XMX ... -cp "$JAVA_CP" graft.tools.<Main> ...
#
# It resolves the checkout from its own path (never a fixed one), copies
# that checkout's compiled classes (build them first: sbt compile) to
# $CLS, so a rebuild during a long run cannot change what runs, and sets
#   REPO        the checkout this file belongs to
#   ADD_OPENS   the --add-opens flags Spark needs on JDK 17
#   SCALA_JARS  the Scala library jars, ':'-terminated
#   SPARK_JARS  the Spark jar dir build.sbt compiles against
#   XMX         heap: half of MemTotal, at least 2g, at most 24g
#               (an XMX already in the environment wins)
#   JAVA_CP     classes + Scala library + Spark jars
REPO=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
CLS=${CLS:-/tmp/benchclasses}
if [ ! -d "$REPO/target/scala-2.13/classes" ]; then
  echo "jvm_env: no compiled classes in $REPO — run sbt compile first" >&2
  exit 1
fi
rm -rf "$CLS"
cp -r "$REPO/target/scala-2.13/classes" "$CLS"
echo "jvm_env: classes from $REPO/target/scala-2.13/classes -> $CLS" >&2

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

SCALA_JARS=$(ls "$HOME"/.sbt/boot/scala-2.13.17/lib/*.jar 2>/dev/null | tr '\n' ':')
[ -z "$SCALA_JARS" ] && SCALA_JARS=$(find "$HOME/.cache/coursier" -name 'scala-library-2.13*.jar' 2>/dev/null | head -1):

XMX=${XMX:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}

SPARK_JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")

JAVA_CP="$CLS:${SCALA_JARS}${SPARK_JARS}/*"
