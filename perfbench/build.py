#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own JVM sources
(`perfbench/src`) with the Scala compiler that ships with Spark, into
`.bench_build/classes` of the checkout. A content stamp skips the compile
when no source changed.

Usage (from the checkout root): python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars() -> str:
    """The jar directory the sbt build compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    jars = None
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jars = m.group(1) if m else None
    if jars is None and "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if jars is None or not os.path.isdir(jars):
        sys.exit(f"build: no Spark jar directory found ({jars}); set SPARK_HOME")
    return jars


def sources():
    found = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            sys.exit(f"build: source directory {root} is missing; run from the repository root")
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not found:
        sys.exit("build: no Scala sources found")
    return sorted(found)


def stamp_of(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.isdir(RESOURCES):
        for d, _, names in sorted(os.walk(RESOURCES)):
            for n in sorted(names):
                p = os.path.join(d, n)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath() -> str:
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build() -> bool:
    """Compiles unless the stamp matches; True when it compiled."""
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True


if __name__ == "__main__":
    build()
