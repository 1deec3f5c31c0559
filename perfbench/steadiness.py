#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/results/steadiness-a.json

Run from the root of a graft checkout. Runs perfbench/run.py untraced once
per workload of BENCHMARK.json and seed, one run at a time, and records each run's metrics, then
per workload and metric the median, the quartiles and the spread: the
distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = {w: [] for w in names}
    for seed in seeds(a.seeds):
        for w in names:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            try:
                res = json.loads(last)
            except ValueError:
                res = {}
            runs[w].append({"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1), **res})
            print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s", file=sys.stderr)

    summary = {}
    for w, rs in runs.items():
        ok = [r for r in rs if r.get("exit") == 0]
        summary[w] = {"runs": len(rs), "ok": len(ok),
                      "wall_s_median": statistics.median(r["wall_s"] for r in rs) if rs else None,
                      "metrics": {}}
        for name in (ok[0]["metrics"] if ok else {}):
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            summary[w]["metrics"][name] = {
                "unit": ok[0]["metrics"][name]["unit"], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None, "bound": bounds.get(name)}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump({"seeds": a.seeds, "trace": 0, "summary": summary, "runs": runs}, f, indent=1)
    for w, s in summary.items():
        print(f"{w}: {s['ok']}/{s['runs']} ok, median wall {s['wall_s_median']} s")
        for name, m in s["metrics"].items():
            spread = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"  {name:40s} median {m['median']:.4g} {m['unit']:6s} spread {spread} bound {m['bound']}")


if __name__ == "__main__":
    main()
