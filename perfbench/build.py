#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's library sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in Spark's jars directory.

Usage: python3 perfbench/build.py        (from the repository root)

Output goes to perfbench/.build/classes. A stamp (hash of every source
file and of the jar list) makes a rebuild happen only when a source
changed. Prints the classpath to run with on its last line.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no scala-compiler jar under {jars} (set SPARK_HOME)")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit(f"build: graft sources not found at {lib}")
    files = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", f"{jars}/*"] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(ensure_built())
