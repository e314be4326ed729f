#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships among the Spark jars, into .bench_build/perfbench/classes.

    python3 perfbench/build.py      # from the root of a graft checkout

The Spark jars are the ones the project build uses (`unmanagedBase` in
build.sbt), or $SPARK_HOME/jars. A build is skipped when the sources and
jars are unchanged since the last one (a stamp of their hashes).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ADD_OPENS = ("java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar")
BUILD_TIMEOUT_S = 900


class BuildError(Exception):
    pass


def out_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jars with a Scala compiler (build.sbt unmanagedBase, $SPARK_HOME/jars)")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True) +
                  glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not any(s.endswith("graft/Pipeline.scala") for s in srcs):
        raise BuildError("run from the root of a graft checkout (src/main/scala/graft is missing)")
    return srcs


def ensure_built(root):
    """Compiles if needed; returns (classes dir, Spark jars dir, stamp)."""
    if not os.path.exists(os.path.join(root, "build.sbt")):
        raise BuildError("run from the root of a graft checkout (build.sbt is missing)")
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    try:
        r = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars, stamp


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd())[0])
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
