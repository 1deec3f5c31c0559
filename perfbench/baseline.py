#!/usr/bin/env python3
"""Baseline record of the benchmark: two steadiness sets and one traced run.

    python3 perfbench/baseline.py --a perfbench/results/steadiness-a.json \\
        --b perfbench/results/steadiness-b.json --out perfbench/results/baseline.json

Run from the root of a graft checkout, after perfbench/steadiness.py wrote
the two sets (same code, same seeds). Runs every workload of BENCHMARK.json
once traced (seed 1) and writes: set A's median, quartiles and spread per
end-to-end metric; set B's, with how much worse B's median is than A's as a
share of A's (negative: B was better); the traced run's per-layer metrics;
the tracing overhead (traced op1 median minus set A's untraced median); and
per span name the number of calls and the median of each span counter.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTERS = ("wall_s", "jobs", "stages", "tasks", "task_busy_frac", "idle_s",
            "shuffle_write_mb", "gc_s")


def traced(workload, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", str(seconds), "--trace", "1"],
                       cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.exit(f"traced run of {workload} failed (exit {p.returncode})")
    with open(os.path.join(HERE, "target", "records", f"{workload}-seed1-trace1.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True)
    ap.add_argument("--b", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    with open(a.a) as f:
        set_a = json.load(f)
    with open(a.b) as f:
        set_b = json.load(f)

    out = {"box": f"{os.cpu_count()} cores, local[{min(4, os.cpu_count())}], driver heap 3 GB",
           "seeds": set_a["seeds"], "end_to_end": {}, "second_set": {}, "per_layer": {},
           "tracing_overhead": {}, "spans": {}}
    for w in (w["name"] for w in bench["workloads"]):
        first = set_a["summary"][w]["metrics"]
        out["end_to_end"][w] = first
        out["second_set"][w] = {}
        for name, m in set_b["summary"][w]["metrics"].items():
            ref = first[name]["median"]
            sign = 1 if better[name] == "lower" else -1
            out["second_set"][w][name] = {
                "median": m["median"], "q1": m["q1"], "q3": m["q3"], "spread": m["spread"],
                "worse_than_first_by": sign * (m["median"] - ref) / ref if ref else 0.0}
        rec = traced(w, bench["run_seconds"])
        out["per_layer"][w] = {k: v["value"] for k, v in rec["layers"].items()}
        op1 = first["op1_p50_s"]["median"]
        out["tracing_overhead"][w] = {
            "op1_p50_s_untraced_median": op1, "op1_traced": rec["layers"]["trace.op_p50_s"]["value"],
            "traced_minus_untraced_s": rec["layers"]["trace.op_p50_s"]["value"] - op1}
        spans = {}
        for s in rec["spans"]:
            spans.setdefault(s["name"], []).append(s)
        out["spans"][w] = {name: {"calls": len(ss), **{c: statistics.median(s[c] for s in ss)
                                                       for c in COUNTERS}}
                           for name, ss in spans.items()}
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
