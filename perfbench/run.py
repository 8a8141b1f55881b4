#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload notebook --seed 1 --seconds 10 --trace 0

Builds graft from source on first use (see build.py), then runs the
benchmark JVM in a fresh scratch directory under .bench_build/runs/, which
is deleted afterwards. The last line of standard output is the result JSON;
everything else goes to standard error. See README.md for the design.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("notebook", "curation_batch", "store_lifecycle")
# Heap pinned below physical memory, initial = maximum: the REPL refuses every
# cell when -Xmx exceeds physical RAM, and a growing heap adds GC noise.
HEAP = "4g"
# Budget of one run after the build, below the 180 s a run may take.
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test switches (test_bench.py)
    ap.add_argument("--inject-fault", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest-only", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    start = time.monotonic()
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(build.BUILD_DIR, "traces", f"{a.workload}-{a.seed}.jsonl")
    cmd = build.java_command(classes, run_dir, HEAP) + [
        "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--run-dir", run_dir,
        "--trace-out", trace_out, "--inject-fault", str(a.inject_fault),
        "--digest-only", str(a.digest_only)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("benchmark timed out", file=sys.stderr)
            return 3
        result = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result):
            print(f"benchmark exited with {code}", file=sys.stderr)
            return code or 4
        with open(result) as f:
            line = f.read().strip()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
