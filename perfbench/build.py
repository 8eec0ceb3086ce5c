#!/usr/bin/env python3
"""Build file of the benchmark's engine package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's engine harness (`perfbench/engine`) into
`perfbench/.work/classes`, with the Scala compiler that ships in the Spark
distribution the program itself builds against. A stamp of the source
contents makes a rebuild happen only when a source changed.

Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(CLASSES, ".stamp")


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one on the PATH that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.exists(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise SystemExit("build: the program's sources (src/main/scala) are missing")
    engine = sorted(glob.glob(os.path.join(HERE, "engine/*.scala")))
    return program + engine


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classpath that runs the engine."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
            "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
            "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(args, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return cp


if __name__ == "__main__":
    print(build())
