#!/usr/bin/env python3
"""Steadiness check: run one workload K times with K different seeds
and print each end-to-end metric's median and quartile spread against
its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest --runs 5 [--first-seed 1]

The spread is (Q3 - Q1) / median with Python's statistics.quantiles(n=4).
A metric passes when its spread is within its bound and is steady when
the spread is below a third of it (setup_s is reported but not gated).
Exits 1 when a metric fails its bound. Run from the checkout root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            raise SystemExit(f"seed {seed}: run.py exited with {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall={time.time() - t0:.0f}s correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    worst = True
    print(f"{'metric':<14} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
    for m in spec["end_to_end"]:
        med, sp = spread(values[m["name"]])
        if m["name"] == "setup_s":
            verdict = "not gated"
        elif sp <= m["bound"] / 3:
            verdict = "steady"
        elif sp <= m["bound"]:
            verdict = "within bound"
        else:
            verdict = "FAILS bound"
            worst = False
        print(f"{m['name']:<14} {med:>12.4f} {sp:>8.4f} {m['bound']:>6}  {verdict}")
    sys.exit(0 if worst else 1)


if __name__ == "__main__":
    main()
