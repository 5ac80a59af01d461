#!/usr/bin/env python3
"""End-to-end benchmark for graft: form ETL and corpus curation, with the
stored-artifact lifecycle in curate's traced run.

    python3 perfbench/run.py --workload form_etl|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the harness on first use
(perfbench/build.py), runs the workload in one JVM, and prints a report
followed by one JSON line:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Exits non-zero when a check fails. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 175
# Spark 4 on JDK 17 outside spark-submit (the module opens spark-submit adds)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    """Spark task slots: one CPU fewer than the process may use (at most
    four), so the driver thread, the JIT and the GC keep a CPU of their own
    and a pass measures graft rather than contention with its own JVM."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n - 1))


def jvm(args, work, deadline):
    """Run the harness JVM; returns (stdout lines, exit code)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--work", work,
            "--cores", str(cores()), "--t0-ms", str(int(time.time() * 1000))] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    try:
        out, err = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        raise SystemExit("harness JVM timed out")
    if p.returncode != 0 or not out.strip():
        sys.stderr.write(err[-4000:])
    return out.strip().splitlines(), p.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    build.build()
    # the first run in a checkout builds; every run gets its own budget after that
    deadline = time.time() + TIMEOUT_S
    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        lines, code = jvm(["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)],
                          work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"harness JVM exited {code} without a result")
    res = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(f"run {a.workload} seed={a.seed} trace={a.trace}: {time.time() - start:.1f} s wall")
    source = res["layer"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            raise SystemExit(f"harness reported no {m['name']} in {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    ok = res["correct"] and code == 0
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
