#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources
(src/main/scala) and the benchmark sources (perfbench/src) with the
Scala compiler that ships in Spark's jar directory, into one class
directory. A stamp of the sources' content skips a rebuild when nothing
changed.

Usage: python3 perfbench/build.py [BUILD_DIR]   (run from the repo root;
BUILD_DIR defaults to $CARGO_TARGET_DIR, else .bench_build)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's own build (build.sbt `unmanagedBase`) compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    if not engine or not bench:
        raise SystemExit("perfbench: run from the repository root "
                         "(needs src/main/scala and perfbench/src)")
    return engine + bench


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root, out):
    """Compile if needed; return the classpath to run with."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    built = None
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            built = f.read()
    if built != stamp:
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        args_file = os.path.join(out, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", classes, "@" + args_file]
        r = subprocess.run(cmd, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else build_dir(root)
    os.makedirs(out, exist_ok=True)
    print(build(root, out))
