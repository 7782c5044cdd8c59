#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) together with the benchmark's own
sources (``wxbench/src``) into ``.bench_build/wxbench/classes`` with the
Scala 2.13 compiler that ships among the Spark jars. The jars directory is
the one ``build.sbt`` names as its ``unmanagedBase`` (else
``$SPARK_HOME/jars``), so the benchmark compiles and runs against the jars
the engine's own build uses; the runtime classpath is those jars plus
``src/main/resources``. A build is reused while a hash of every source file
still matches its stamp.

Usage: python3 wxbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "wxbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "wxbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    return os.path.join(home, "jars") if home else ""


SPARK_JARS = spark_jars()


class BuildError(Exception):
    pass


def sources():
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the built benchmark."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"no engine sources at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark jars directory (build.sbt unmanagedBase or $SPARK_HOME): {SPARK_JARS!r}")
    srcs = sources()
    stamp = digest(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    compiler = [p for m in ("compiler", "library", "reflect")
                for p in sorted(glob.glob(os.path.join(SPARK_JARS, f"scala-{m}-2.13.*.jar")))[-1:]]
    if len(compiler) != 3:
        raise BuildError(f"no Scala 2.13 compiler jars in {SPARK_JARS}")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[wxbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(SPARK_JARS, "*"), "@" + args],
        stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[wxbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
