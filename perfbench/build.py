#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (perfbench/src) with the Scala compiler that
ships in Spark's jars directory, into .bench_build/perfbench/classes.

The build is skipped when the sources are unchanged since the last one.

Usage, from the root of a checkout:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "sources.sha256")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if not m:
            raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return engine + bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the classpath to run the benchmark with."""
    srcs = sources()
    jars = spark_jars()
    want = digest(srcs)
    classpath = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath


if __name__ == "__main__":
    build()
