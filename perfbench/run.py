#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as the last line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the engine and the benchmark are compiled
from source first (see build.py). Each run is a fresh JVM on local[nproc]
with a fixed heap; every file it writes stays under the build directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["analytics", "ingest"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    root = build.build_dir()
    work = os.path.join(root, f"run-{os.getpid()}")
    traces = os.path.join(root, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + build.jvm_opens() +
           [f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(), "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace),
            os.path.join(HERE, "data", "sf0.01"), work,
            os.path.join(HERE, "expected.tsv"), trace_file])
    log_path = os.path.join(root, f"{a.workload}-seed{a.seed}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stderr=log)
            try:
                code = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit(f"perfbench: benchmark JVM exited with code {code} (log: {log_path})")
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result["failed"]:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench] op ")))
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
