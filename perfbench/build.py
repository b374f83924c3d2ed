#!/usr/bin/env python3
"""Build the benchmark: compile the engine's main sources together with the
benchmark's own Scala sources into perfbench/out/classes.

The Scala compiler and the Spark runtime are taken from the Spark
distribution (SPARK_HOME, or the installation whose spark-submit is on
PATH), whose jars directory ships scala-compiler. Nothing is fetched. A
stamp over every source file's path and content hash makes a rebuild happen
only when a source changed.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes += [os.path.dirname(os.path.dirname(p))
                  for p in (submit, os.path.realpath(submit))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("build: no Spark installation found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources missing at {ENGINE_SRC}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = spark_jars()
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        raise SystemExit(f"build: no scala-compiler jar under {jars}")
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    scp = os.pathsep.join(
        glob.glob(os.path.join(jars, n))[0]
        for n in ("scala-compiler-*.jar", "scala-library-*.jar",
                  "scala-reflect-*.jar"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + OUT,
           "-cp", scp, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
