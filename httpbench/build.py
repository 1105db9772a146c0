#!/usr/bin/env python3
"""Build file of the serving benchmark.

Compiles the project's main sources (src/main/scala) together with the
benchmark's own sources (httpbench/src) with the Scala compiler that
ships among the Spark jars, into .bench_build/httpbench/classes.
A stamp of the sources' content makes a rebuild happen only when a
source changed. Run from the root of a checkout:

    python3 httpbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "httpbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("httpbench", "src")]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("httpbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"httpbench: missing source directory {root}; "
                             "run from the root of a full checkout")
    found = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classes dir, jar dir, compiled?)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return CLASSES, jars, False
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"httpbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES, jars, True


if __name__ == "__main__":
    print(build()[0])
