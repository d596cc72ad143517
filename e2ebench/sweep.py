#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

    python3 e2ebench/sweep.py --workload query_mix --seeds 1-10 \\
        [--seconds 10] [--trace 0] [--out <dir>]

Runs `run.py` once per seed, in sequence, keeps each run's result line in
`<out>/<workload>/seed_<n>.json`, and prints for every metric the median,
the first and third quartiles (`statistics.quantiles(n=4)`) and the
spread: the interquartile distance as a share of the median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or a range like 1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(HERE), ".e2ebench_work", "sweep"))
    a = ap.parse_args()
    out = os.path.join(a.out, a.workload)
    os.makedirs(out, exist_ok=True)
    values = {}
    for seed in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run failed with exit code {p.returncode}")
        line = p.stdout.strip().splitlines()[-1]
        with open(os.path.join(out, f"seed_{seed}.json"), "w") as f:
            f.write(line + "\n")
        r = json.loads(line)
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()
                       if a.trace == "0"), flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"\n{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}  n")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:40} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f}  {len(xs)}")


if __name__ == "__main__":
    main()
