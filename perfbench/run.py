#!/usr/bin/env python3
"""Run one benchmark workload (see perfbench/README.md).

Usage, from the repository root:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--scale tiny] [--expected FILE]

Builds the engine and the benchmark if their sources changed, runs the
workload in one JVM with one Spark session of `nproc` threads, and
passes the JVM's output through; its last line is the JSON result. Every
file the run writes lives under the build directory ($CARGO_TARGET_DIR,
else .bench_build); the run's scratch directory (generated tables,
committed stores, Spark local and checkpoint directories) is deleted
before and after.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tile_rollup", "queries")
# Kill limit of one run, after the build. A run must end within 180 s.
# The longest complete runs measured on a shared 4-core VM (queries,
# traced or not) took about 100 s, so 170 s leaves 70 % headroom and
# still stops a hung JVM in time.
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument("--expected", default=None,
                    help="expected-digest file (default perfbench/expected.json)")
    a = ap.parse_args()

    root = os.getcwd()
    out = build.build_dir(root)
    os.makedirs(out, exist_ok=True)
    classpath = build.build(root, out)

    here = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    cores = len(os.sched_getaffinity(0))
    spans = os.path.join(out, f"spans-{a.workload}-{a.seed}.jsonl")
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--cores", str(cores), "--work", work, "--scale", a.scale,
            "--expected", a.expected or os.path.join(here, "expected.json"),
            "--spans", spans])
    proc = subprocess.Popen(cmd, cwd=work)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {a.workload} exceeded {TIMEOUT_S}s", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
