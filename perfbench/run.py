#!/usr/bin/env python3
"""Relabel-pipeline benchmark: one workload, one result line.

Usage (from the root of a checkout, with SPARK_HOME set):

    python3 perfbench/run.py --workload labels3d_zarr --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark if their sources changed (see
build.py), runs the workload in one JVM, and prints the JVM's JSON result
as the last line of standard output. Everything the run writes stays under
the build directory (``.bench_build`` unless CARGO_TARGET_DIR names another).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("labels3d_zarr", "geojson2d")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
RUN_DEADLINE_S = 175  # a run must end within 180 s once built
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", "-Xmx3g", *opens, "-Djava.io.tmpdir=" + tmp,
            "-cp", classpath, main, *args]


def run_jvm(cmd, timeout):
    """Run the JVM; return its stdout lines, or exit non-zero on failure."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"benchmark JVM did not finish within {timeout:.0f} s")
    if proc.returncode != 0:
        sys.exit(f"benchmark JVM exited with code {proc.returncode}")
    return out.splitlines()


def result_line(lines):
    for line in reversed(lines):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            return obj
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")

    start = time.monotonic()
    try:
        classpath, compiled = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    # a run that had to compile may take longer; any other must end in time
    timeout = 600 if compiled else RUN_DEADLINE_S - (time.monotonic() - start)

    work = os.path.join(build.build_dir(), "work")
    shutil.rmtree(work, ignore_errors=True)
    if args.self_test:
        lines = run_jvm(java_cmd(classpath, work, "perfbench.SelfTest",
                                 ["--work", work, "--benchmark-json", "BENCHMARK.json"]), 600)
        print("\n".join(lines))
        return
    lines = run_jvm(java_cmd(classpath, work, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work]), timeout)
    result = result_line(lines)
    if result is None:
        sys.exit("benchmark JVM printed no result line")
    for line in lines:
        print(line, file=sys.stderr)
    # keep the trace (spans) of a traced run; drop the stores and spark scratch
    for name in os.listdir(work):
        if name != "trace":
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
