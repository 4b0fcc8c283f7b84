#!/usr/bin/env python3
"""Steadiness record: runs each workload on several seeds and reports,
per end-to-end metric, the median, the quartiles and the spread (the
distance between the first and third quartile as a share of the median,
as statistics.quantiles(values, n=4) gives them) against the metric's
bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--first-seed 100] \
        [--workloads serve,cdc,curate] [--out perfbench/results/steadiness.json]

Run from the root of a graft checkout. Prints one table row per
(workload, metric) and appends the runs to the JSON file.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default=os.path.join("perfbench", "results", "steadiness.json"))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"when": time.strftime("%Y-%m-%d %H:%M:%S"), "nproc": os.cpu_count(),
              "run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": res})
            print(f"{wl} seed={seed} exit={proc.returncode} wall={wall:.0f}s", file=sys.stderr)
        ok = [r["result"] for r in runs if r["exit"] == 0 and r["result"]]
        summary = {}
        for name in bounds:
            values = [r["metrics"][name]["value"] for r in ok]
            if len(values) >= 2:
                q1, med, q3, sp = spread(values)
                summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                                 "bound": bounds[name], "values": values}
                print(f"{wl:7s} {name:12s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
                      f"spread={sp:.4f} bound={bounds[name]}")
        record["workloads"][wl] = {"runs": runs, "summary": summary,
                                   "failed_runs": len(runs) - len(ok)}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    history = []
    if os.path.exists(args.out):
        with open(args.out) as f:
            history = json.load(f)
    history.append(record)
    with open(args.out, "w") as f:
        json.dump(history, f, indent=1)


if __name__ == "__main__":
    main()
