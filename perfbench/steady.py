#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed,
and print for every end-to-end metric the median, the quartiles and the
spread (Q3 - Q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]

Each run measures BENCHMARK.json's run_seconds. The quartiles are
Python's statistics.quantiles(values, n=4). A spread under a third of
its bound is the target.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    with open("/proc/loadavg") as f:
        load = f.read().split()
    print(f"load average {load[0]} {load[1]} {load[2]}, runnable {load[3]}", flush=True)
    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.time()
        p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0 or not p.stdout.strip():
            print(f"seed {seed}: run failed ({p.returncode})\n{p.stderr[-2000:]}")
            return 1
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"], r["wall_s"] = seed, time.time() - t0
        runs.append(r)
        print(f"seed {seed}: {r['wall_s']:.1f} s, correct={r['correct']}, "
              f"failed {r['failed']}/{r['attempted']}", flush=True)
        for line in p.stderr.splitlines():
            if "failed:" in line or "check:" in line:
                print("   ", line[:600], flush=True)
    print(f"\n{a.workload}: {len(runs)} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f} s")
    print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}{'ratio':>7}")
    worst = 0.0
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / q2
        b = bounds.get(name)
        ratio = spread / b if b else float("nan")
        if b:
            worst = max(worst, ratio)
        print(f"{name:<18}{q2:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{b or 0:>8.2f}{ratio:>7.2f}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share: {sorted(shares)}; all correct: {all(r['correct'] for r in runs)}")
    print(f"worst spread / bound: {worst:.2f} (target < 0.33)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
