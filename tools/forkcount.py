#!/usr/bin/env python3
"""Count the processes one benchmark run starts, per op and per call site.

    python3 tools/forkcount.py <workload> <seed> [--seconds S]

Runs one perfbench JVM the way perfbench/run.py does (same build, heap,
flags and data), with a JDK Flight Recorder recording of `jdk.ProcessStart`
events and with tracing on, so the run writes its op spans. Hadoop's local
filesystem starts a `chmod`, `readlink` or `stat` process per file where
libhadoop is missing; this shows where a run still does.

It prints the starts of the whole run by command, then per op the mean
starts of one run of the op in the traced window (spans and events share
the wall clock), then the whole run's starts by call site: the innermost
Hadoop filesystem frame under the process start and the innermost Spark
frame that led to it.

Run it from the repository root. It only reports: it imports
perfbench/build.py and changes nothing under perfbench/. The recording and
the run's files go under the build directory and are removed afterwards.
"""
import argparse
import collections
import datetime
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.join(os.path.dirname(HERE), "perfbench")
sys.path.insert(0, PERFBENCH)
import build  # noqa: E402

HEAP = "3g"
TIMEOUT_S = 900


def epoch_ms(stamp):
    """`jfr print --json` start times, e.g. 2026-10-20T11:02:03.123456789Z
    (nanoseconds, which datetime does not parse)."""
    m = re.fullmatch(r"([^.]+?)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)", stamp)
    t = datetime.datetime.fromisoformat(m[1] + ("+00:00" if m[3] == "Z" else m[3]))
    return t.timestamp() * 1000.0 + float("0." + (m[2] or "0")) * 1000.0


def frame_name(f):
    """Class.method of a frame, or None for a lambda, closure body or
    utility frame, which names no call site."""
    cls, method = f["method"]["type"]["name"].replace("/", "."), f["method"]["name"]
    if "$$Lambda" in cls or "$anonfun$" in method or cls.startswith("org.apache.spark.util."):
        return None
    return f"{cls}.{method}"


def call_site(frames):
    names = [n for n in map(frame_name, frames) if n]
    hadoop = next((n for n in names if n.startswith("org.apache.hadoop.fs.")), "-")
    spark = next((n for n in names if n.startswith("org.apache.spark.")), "-")
    return hadoop, spark


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=["analytics", "ingest"])
    ap.add_argument("seed", type=int)
    ap.add_argument("--seconds", type=float, default=5.0)
    a = ap.parse_args()

    build.build()
    work = os.path.join(build.build_dir(), f"forkcount-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jfr = os.path.join(work, "run.jfr")
    spans = os.path.join(work, "spans.jsonl")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-XX:StartFlightRecording=filename={jfr}",
            "-XX:FlightRecorderOptions=stackdepth=256"] + build.jvm_opens() +
           [f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(), "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), "1",
            os.path.join(PERFBENCH, "data", "sf0.01"), work,
            os.path.join(PERFBENCH, "expected.tsv"), spans])
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            code = subprocess.run(cmd, stdout=log, stderr=log, timeout=TIMEOUT_S).returncode
        if code != 0:
            sys.exit(f"forkcount: benchmark JVM exited with code {code}")
        out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart",
                              "--stack-depth", "256", jfr],
                             capture_output=True, text=True, check=True).stdout
        events = [e["values"] for e in json.loads(out)["recording"]["events"]]
        with open(spans) as f:
            ops = [s for s in map(json.loads, f) if s["name"] == "op"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    starts = [(epoch_ms(e["startTime"]), e["command"].split()[0] if e["command"] else "?",
               call_site(e["stackTrace"]["frames"] if e.get("stackTrace") else []))
              for e in events]
    by_cmd = collections.Counter(c for _, c, _ in starts)
    print(f"{a.workload} seed {a.seed}: {len(starts)} process starts "
          f"({', '.join(f'{c} {n}' for c, n in by_cmd.most_common())})")

    runs = collections.Counter(s["op"] for s in ops)
    per_op = collections.Counter()
    for t, _, _ in starts:
        for s in ops:
            if s["start_ms"] <= t <= s["end_ms"]:
                per_op[s["op"]] += 1
    print("\nper op, mean over its runs in the traced window:")
    for op in sorted(runs, key=lambda o: min(s["start_ms"] for s in ops if s["op"] == o)):
        print(f"  {per_op[op] / runs[op]:8.1f}  {op}  ({runs[op]} run{'s' if runs[op] > 1 else ''})")

    print("\nper call site, whole run (hadoop frame <- spark frame):")
    for (hadoop, spark), n in collections.Counter(s for _, _, s in starts).most_common():
        print(f"  {n:6d}  {hadoop} <- {spark}")


if __name__ == "__main__":
    main()
