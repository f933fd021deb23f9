#!/usr/bin/env python3
"""Builds the program and the benchmark driver from source.

Compiles `src/main/scala` (the library) and `perfbench/src` (the
driver) in one scalac run, with the Scala compiler and Spark jars in
`$SPARK_HOME/jars`, or else in the directory the project's `build.sbt`
names as `unmanagedBase`. Classes go to `.bench_build/classes`; a stamp
of every source file's content skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark/Scala jars in '{jars}'; set SPARK_HOME")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        sys.exit("perfbench: the program's sources (src/main/scala) are missing; "
                 "run from the root of a full checkout")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return lib + bench


def build():
    """Returns the classpath of the built program and driver."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    classpath = f"{CLASSES}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", f"{jars}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"perfbench: compile failed (exit {r.returncode})")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath


if __name__ == "__main__":
    print(build())
