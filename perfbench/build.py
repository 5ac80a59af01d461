#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into .bench_build/classes, with the Scala
compiler and the Spark jars the repository's own build.sbt uses
(`unmanagedBase`). The repository's build is not touched.

Usage (from the repository root): python3 perfbench/build.py
A build is skipped when no source changed since the last one.
"""
import hashlib
import os
import re
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def sources():
    """The graft main sources and the harness sources, sorted."""
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jar_dir():
    """SPARK_HOME/jars when set, else build.sbt's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def jars():
    d = spark_jar_dir()
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".jar"))


def classpath():
    return os.pathsep.join([CLASSES] + jars())


def build(log=sys.stderr):
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("no graft sources under src/main/scala: nothing to benchmark")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    js = jars()
    h.update("\n".join(js).encode())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    compiler = [j for j in js if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("Scala compiler, library and reflect jars not found beside Spark")
    if os.path.exists(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(js),
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("compile failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=log)


if __name__ == "__main__":
    build()
