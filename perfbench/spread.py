#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage, from the repository root:

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs the benchmark --runs times per workload (default: every workload in
BENCHMARK.json), each with its own seed, and prints per metric the median
and the interquartile range as a share of the median, next to the
metric's bound. A benchmark is steady when every spread but setup_s's is
below a third of its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys

p = argparse.ArgumentParser()
p.add_argument("--runs", type=int, default=10)
p.add_argument("--first-seed", type=int, default=1)
p.add_argument("workloads", nargs="*")
a = p.parse_args()
bench = json.load(open("BENCHMARK.json"))
bounds = {e["name"]: e["bound"] for e in bench["end_to_end"]}
ok = True
for w in a.workloads or [x["name"] for x in bench["workloads"]]:
    values = {m: [] for m in bounds}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = json.loads(r.stdout.strip().splitlines()[-1])
        if r.returncode != 0 or not line["correct"]:
            sys.exit(f"{w} seed {seed}: exit {r.returncode}, {line}")
        for m in bounds:
            values[m].append(line["metrics"][m]["value"])
    for m, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med
        steady = m == "setup_s" or share < bounds[m] / 3
        ok &= steady
        print(json.dumps({"workload": w, "metric": m, "median": round(med, 4),
                          "iqr_share": round(share, 4), "bound": bounds[m],
                          "steady": steady, "values": [round(x, 4) for x in v]}), flush=True)
sys.exit(0 if ok else 1)
