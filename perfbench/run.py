#!/usr/bin/env python3
"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload index_bulk --seed 1 --seconds 10 --trace 0

Builds the benchmark (its own sbt project, compiling the program's sources
beside it) when a source changed, then runs one workload in a JVM pinned to
this process's cores. Prints one line per metric and, last, one JSON object
with the keys correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("index_bulk", "search_read", "ingest_mixed")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

JVM_OPTS = [
    # no hsperfdata file in the system temp directory
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group at the limit and
    wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("%s exceeded %d s" % (cmd[0], limit))
    return p.returncode, out


def build(log):
    want = stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return
    with open(log, "wb") as fh:
        rc, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            BUILD_LIMIT_S, cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(want)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("program sources not found under %s" % PROGRAM_SRC)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory")

    os.makedirs(TARGET, exist_ok=True)
    build(os.path.join(TARGET, "build.log"))

    started = time.time()
    cores = sorted(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    err_log = os.path.join(work, "jvm.err")
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
    ]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", ",".join(map(str, cores))] + cmd
    try:
        with open(err_log, "wb") as err:
            rc, out = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=err, stdin=subprocess.DEVNULL)
        lines = out.decode(errors="replace").splitlines()
        if rc != 0:
            with open(err_log, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail("benchmark JVM exited with %d" % rc)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result keys %s" % sorted(result))
    want = expected_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        fail("metrics %s differ from BENCHMARK.json %s" % (sorted(result["metrics"]), sorted(want)))
    for line in lines[:-1]:
        if line.startswith(("metric ", "host ", "note ")):
            print(line)
    print("host %s run_wall_s %.3f s" % (a.workload, time.time() - started))
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
