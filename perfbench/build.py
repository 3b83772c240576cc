#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the harness
(perfbench/scala) into .bench_build/classes with the Scala compiler that
ships in the Spark distribution's jars directory. No sbt, no dependency
resolution: the classpath is exactly the Spark jars.

usage: python3 perfbench/build.py        (from the repository root)

The build is skipped when a stamp of every source file's content matches
the previous build. Exits non-zero when the engine sources are missing.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of a Spark installation whose
    bin/spark-submit is on PATH; the jars must include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                     "(set SPARK_HOME or put its bin/ on PATH)")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(quiet=False):
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    os.makedirs(CLASSES, exist_ok=True)
    for old in glob.glob(os.path.join(CLASSES, "*")):
        subprocess.run(["rm", "-rf", old], check=True)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars] + files
    if not quiet:
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("perfbench: compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    build()
