#!/usr/bin/env python3
"""Pipeline benchmark of graft's STAC chain: daily link caches, bounded fetch,
Hilbert-sorted GeoParquet, footer-pruned bbox reads.

Run from the root of a checkout:

  python3 pipebench/run.py --workload ingest_month --seed 1 --seconds 20 --trace 0
  python3 pipebench/run.py --selftest

Builds the program and the benchmark when their sources changed
(pipebench/build.py), runs one workload in one JVM and passes its output
through: the last line of standard output is the JSON result. Scratch data
goes under .bench_work/ and is removed when the run ends. See
pipebench/README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_month", "fetch_wait", "bbox_read")
DEADLINE_S = 170  # the run must end within 180 s after the build

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, work, main, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # The program's own JVM settings (build.sbt: default collector, -Xmx8g), with
    # the young generation fixed and a 2 GB initial heap, so that peak RSS follows
    # what the run keeps live rather than G1's load-dependent heap sizing
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx8g", "-Xmn512m"] + opens +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", classpath, main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print(f"[pipebench] build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if a.selftest:
        cmd = java_cmd(classpath, work, "graftbench.SelfTest", ["--work", work])
    else:
        cmd = java_cmd(classpath, work, "graftbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--work", work])
    # Spark's shuffle and block files stay inside the checkout too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[pipebench] run timed out", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
        return proc.returncode or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
