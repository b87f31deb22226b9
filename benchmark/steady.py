#!/usr/bin/env python3
"""Steadiness check: run one workload repeatedly and summarise.

    python3 benchmark/steady.py --workload NAME [--runs 10] [--first-seed 1]
                                [--seconds 20] [--trace 0|1]

Runs `run.py` once per seed (first-seed, first-seed+1, ...), then prints
for every metric its values, median, first and third quartile
(`statistics.quantiles(values, n=4)`) and the spread (q3 - q1) / median,
which is what a metric's bound in BENCHMARK.json is set from. It also
prints each run's wall time and the share of failed operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarise(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    results, walls = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.monotonic()
        p = subprocess.run(cmd, capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        header = json.loads(lines[-2])["header"] if len(lines) > 1 else {}
        results.append(res)
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"setup_rounds={[round(x, 2) for x in header.get('setup_rounds_s', [])]} "
              f"load={header.get('loadavg_start')}->{header.get('loadavg_end')}", flush=True)

    metrics = {name: summarise([r["metrics"][name]["value"] for r in results])
               for name in results[0]["metrics"]}
    print(f"\n{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name, s in metrics.items():
        print(f"{name:28} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} {s['spread']:8.4f}")
    print(f"run wall s: median {statistics.median(walls):.1f}  max {max(walls):.1f}; "
          f"failed share {sorted({r['failed'] / r['attempted'] for r in results})}; "
          f"correct {all(r['correct'] for r in results)}")


if __name__ == "__main__":
    main()
