#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve|cdc|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft's
sources together with the benchmark's JVM program (perfbench/build.sbt,
sbt offline) into .bench_build/; later runs start the JVM directly. The
JVM program (perfbench/src/main/scala) generates the workload's inputs from
the seed, sets up, runs the closed loop for S seconds, checks every
output, and writes its raw samples; this script turns them into metrics.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The exit code is non-zero when any correctness check failed.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
SOURCES = [os.path.join("src", "main"), os.path.join(BENCH_DIR, "src"),
           os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project")]
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for root in SOURCES:
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
    return newest


def build():
    """Compiles graft and the JVM program when the classpath file is missing or
    older than any source."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    log("building graft and the benchmark's JVM program (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    t = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "writeClasspath"],
        cwd=BENCH_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"perfbench: build failed (exit {proc.returncode})")
    log(f"built in {time.time() - t:.0f} s")


def run_jvm(args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"JVM killed after {JVM_TIMEOUT_S} s")
        return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(stats.MAIN_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(src/main/scala/graft not found)")
    build()

    work = os.path.abspath(os.path.join(
        BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    out = os.path.join(work, "raw.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(args, work, out)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: JVM exited with {code} and no result")
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = stats.per_layer(raw) if args.trace else stats.end_to_end(raw)
    correct = raw["failed"] == 0 and raw["attempted"] > 0
    for e in raw["errors"]:
        log(f"check failed: {e}")
    print("perfbench: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": raw["env"], "inputs": raw.get("inputs"),
        "gen_s": raw.get("gen_ms", 0.0) / 1000.0}))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
