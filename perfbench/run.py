#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rtt_monthly --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt reuses the root build);
later runs reuse the build while no source file is newer than it. The
program writes its run record to perfbench/target/records/; this script
prints the workload's own metric names (unit in the name's suffix), then
every reported metric with its unit, then, as the last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1).
Exits non-zero if the build fails, the run fails, or an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
WORKLOADS = ("rtt_monthly", "corpus_maintain")
BUILD_TIMEOUT_S = 700  # with the run, under the 900 s a first run may take
RUN_TIMEOUT_S = 170
# Driver heap (local mode: the executors share it) and the stop-the-world
# parallel collector, whose GC threads do not compete with the task
# threads between collections as G1's concurrent ones do.
JVM = ["-Xmx3g", "-XX:+UseParallelGC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, files in os.walk(r):
            for f in files:
                yield os.path.join(d, f)


def run_bounded(cmd, cwd, timeout, stdout, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Builds graft and the benchmark unless the build is newer than
    every source file; returns the java command prefix."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found: run from the root of a graft checkout")
    if os.path.isfile(LAUNCH):
        built = os.path.getmtime(LAUNCH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            with open(LAUNCH) as f:
                return f.read().split("\n")[:-1]
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required to build the benchmark")
    if os.path.exists(LAUNCH):
        os.remove(LAUNCH)
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                     HERE, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (exit {rc})")
    # stamp the build with its start, so a source edited while sbt ran
    # is newer than the build and triggers the next one
    os.utime(LAUNCH, (t0, t0))
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(LAUNCH) as f:
        return f.read().split("\n")[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    launch = build()
    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    records = os.path.join(TARGET, "records")
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = launch.index("-cp")  # JVM options, then the classpath; later flags win
    java = launch[:cp] + JVM + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + launch[cp:]
    cmd = java + ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", out]
    # Spark's scratch space stays in the run's work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        rc = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, sys.stderr, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(out):
        fail(f"run failed (exit {rc})")
    with open(out) as f:
        rec = json.load(f)

    for e in rec["errors"]:
        print(f"FAILED {e}")
    for name, v in rec["info"].items():
        if name.split(".")[0] in ("rtt", "maint", "serve"):  # the workload's own names
            print(f"{name} = {v}")
    shown = rec["layers"] if a.trace else rec["metrics"]
    for name, m in shown.items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(f"record: {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": shown}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
