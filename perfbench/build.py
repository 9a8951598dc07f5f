#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (`src/main/scala`, resources from
`src/main/resources`) together with the benchmark's own sources
(`perfbench/src`) into `.bench_build/classes`, with the Scala compiler
that ships among Spark's jars. A stamp of every input file's path, size
and content hash skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` graft's
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        sys.exit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build():
    """Compile if needed; return the classes directory. Exits non-zero
    when graft's sources are missing or the compile fails."""
    scala_dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    resources = os.path.join(ROOT, "src", "main", "resources")
    for d in scala_dirs + [resources]:
        if not os.path.isdir(d):
            sys.exit(f"build: {os.path.relpath(d, ROOT)} not found; run from a graft checkout")
    sources = [f for d in scala_dirs for f in _files(d, ".scala")]
    inputs = sources + _files(resources)
    h = hashlib.sha256(spark_jars().encode())
    for f in inputs:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES

    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    print(f"build: compiling {len(sources)} Scala files", file=sys.stderr, flush=True)
    rc = subprocess.call([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                          "scala.tools.nsc.Main",
                          "-classpath", jars, "-d", tmp, "-nowarn"] + sources,
                         stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with exit code {rc}")
    shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
