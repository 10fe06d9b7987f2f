#!/usr/bin/env python3
"""Steadiness record: run every workload of BENCHMARK.json ten times, in two
sets, and compare the sets.

    python3 jbench/steady.py

Run from the root of a checkout. Each run uses its own seed (set s, run i
gets seed 1000*s + i) and the run length from BENCHMARK.json. For every
workload and end-to-end metric the record (jbench/STEADINESS.json) holds
each set's values, median and quartiles (Python's statistics.quantiles,
n=4), the spread (q3 - q1) / median of each set, and the drift of the
second set's median from the first. A metric is within its bound when both
spreads and the size of the drift, in either direction, are at most the
metric's bound.
"""
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join("jbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    result = json.loads(p.stdout.splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"{workload} seed {seed} failed its output checks")
    return {k: v["value"] for k, v in result["metrics"].items()}


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(values)}


RUNS = 10
SETS = 2
OUT = os.path.join("jbench", "STEADINESS.json")


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]

    raw = {w: [{m: [] for m in metrics} for _ in range(SETS)] for w in workloads}
    for s in range(SETS):
        for w in workloads:
            for i in range(RUNS):
                t0 = time.time()
                got = run_once(w, 1000 * (s + 1) + i, bench["run_seconds"])
                for m in metrics:
                    raw[w][s][m].append(got[m])
                print(f"set {s + 1} {w} run {i + 1}: {time.time() - t0:.1f} s "
                      + " ".join(f"{m}={got[m]:.4g}" for m in metrics), flush=True)

    record = {"nproc": os.cpu_count(), "run_seconds": bench["run_seconds"],
              "runs_per_set": RUNS, "workloads": {}}
    ok = True
    for w in workloads:
        rows = {}
        for m, spec in metrics.items():
            sets = [summary(raw[w][s][m]) for s in range(SETS)]
            drift = (sets[1]["median"] - sets[0]["median"]) / sets[0]["median"]
            row = {"bound": spec["bound"], "sets": sets, "drift": drift,
                   "within_bound": all(x["spread"] <= spec["bound"] for x in sets)
                   and abs(drift) <= spec["bound"]}
            ok &= row["within_bound"]
            rows[m] = row
            print(f"{w:15s} {m:8s} bound={spec['bound']:.2f} "
                  + " ".join(f"med={x['median']:.4g} spread={x['spread']:.3f}" for x in sets)
                  + f" drift={drift:+.3f}")
        record["workloads"][w] = rows
    record["within_bounds"] = ok
    with open(OUT, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(f"within bounds: {ok}; record written to {OUT}")


if __name__ == "__main__":
    main()
