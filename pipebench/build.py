#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the program (src/main/scala of the checkout) together with the
benchmark's own sources (pipebench/src) into .bench_build/classes, and copies
the program's resources (src/main/resources) beside them, with the
Scala compiler and the Spark jars of $SPARK_HOME/jars. A build is skipped
when a stamp of every source file's path and bytes matches the last one.

Run from the root of a checkout:  python3 pipebench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark jars: set SPARK_HOME")
    if not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return os.path.join(jars, "*")


PROGRAM = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def walk(top):
    return sorted(os.path.join(d, f) for d, _, files in os.walk(top) for f in files)


def sources():
    program = [f for f in walk(PROGRAM) if f.endswith(".scala")]
    bench = [f for f in walk(os.path.join(HERE, "src")) if f.endswith(".scala")]
    if not program:
        raise BuildError(f"no program sources under {PROGRAM}")
    if not bench:
        raise BuildError("no benchmark sources")
    return program + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile if the sources changed; return the run classpath."""
    jars = spark_jars()
    files = sources()
    resources = walk(RESOURCES)
    want = stamp(files + resources)
    classpath = CLASSES + os.pathsep + jars
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[pipebench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    for f in resources:
        dst = os.path.join(CLASSES, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[pipebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
