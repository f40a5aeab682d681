#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory under
.bench_build/perfbench/, using the Scala compiler that ships in Spark's jar
directory. The compile is skipped when no source changed since the last
build. Run it from the root of a checkout:

    python3 perfbench/build.py

It needs `java` (or JAVA_HOME) and a Spark distribution (SPARK_HOME, or
`spark-submit` on PATH); nothing is downloaded.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "sources.sha256")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java executable (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail("engine sources not found: run from the root of a checkout that has src/main/scala")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classes dir, Spark jar dir)."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES, jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        fail(f"compile failed (exit {done.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES, jars


if __name__ == "__main__":
    classes, _ = build()
    print(classes)
