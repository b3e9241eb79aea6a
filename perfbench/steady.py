#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit must agree.

    python3 perfbench/steady.py --workload report [--runs 10] [--seed 100]

Runs perfbench/run.py 2 x --runs times on one workload, alternating
which set goes first, each run with its own seed. For every end-to-end
metric in BENCHMARK.json it prints each set's median and quartiles and the
quartile spread as a share of the median (also over all runs together),
then whether the sets agree: each set's spread is within the metric's
bound, and the two sets' medians differ, in either direction, by no more
than the bound. Exits 1 if any metric disagrees. Raw results go to .bench_build/steady-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    sets = {"A": [], "B": []}
    for i in range(a.runs):
        for name in ("AB" if i % 2 == 0 else "BA"):
            seed = a.seed + 2 * i + (name == "B")
            res = run_once(a.workload, seed, bench["run_seconds"])
            sets[name].append(res)
            print(f"run {i} set {name} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
    os.makedirs(".bench_build", exist_ok=True)
    with open(f".bench_build/steady-{a.workload}.json", "w") as f:
        json.dump(sets, f)

    ok = True
    print(f"{'metric':<18} {'set':<3} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>8}")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        med = {}
        for s, runs in sets.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            med[s] = q2
            spread = (q3 - q1) / q2
            within = spread <= bound
            ok &= within
            print(f"{name:<18} {s:<3} {q1:>12.4f} {q2:>12.4f} {q3:>12.4f} {spread:>8.3f}"
                  f"{'' if within else '  SPREAD > BOUND'}")
        vals = [r["metrics"][name]["value"] for runs in sets.values() for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:<18} all {q1:>12.4f} {q2:>12.4f} {q3:>12.4f} {(q3 - q1) / q2:>8.3f}")
        worse = (med["B"] - med["A"]) / med["A"]
        if m["better"] == "higher":
            worse = -worse
        agree = abs(worse) <= bound
        ok &= agree
        print(f"{name:<18} B vs A worse by {worse:+.3f} (bound ±{bound}): "
              f"{'agree' if agree else 'DISAGREE'}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
