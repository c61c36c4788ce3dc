#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main sources (`src/main/scala`) together with
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution, into `<build dir>/classes`. A stamp of
the sources' contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of the repository)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars():
    """The jars of the Spark distribution at `$SPARK_HOME`."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: SPARK_HOME must name a Spark distribution")
    return os.path.join(home, "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, RESOURCES),
                            os.path.join(spark_jars(), "*")])


def sources():
    out = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {d}")
        for dirpath, _, names in os.walk(top):
            out += [os.path.join(dirpath, n) for n in names
                    if n.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
