#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) and the benchmark sources (perfbench/src) with the Scala
compiler that ships in the Spark distribution, into a content-addressed
class directory under .bench_build/. A build whose inputs are unchanged is
reused.

Run from the root of a checkout:  python3 perfbench/build.py
Prints the class directory on success.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_ROOT = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root="."):
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark distribution: set SPARK_HOME")


def sources(root="."):
    engine = sorted(glob.glob(os.path.join(root, ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    bench = sorted(glob.glob(os.path.join(root, BENCH_SRC, "**", "*.scala"), recursive=True))
    return engine + bench


def build(root=".", quiet=True):
    """Compile if needed; return the class directory."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp-%d" % os.getpid()
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if not quiet:
        sys.stderr.write(r.stdout)
    try:
        os.rename(tmp, out)
    except OSError:
        # a concurrent build of the same sources got there first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise
    # keep only the newest build
    for old in glob.glob(os.path.join(root, BUILD_ROOT, "classes-*")):
        if old != out and ".tmp-" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build(quiet=False))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
