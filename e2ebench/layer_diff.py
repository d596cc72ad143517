#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark runs.

    python3 e2ebench/layer_diff.py <beforeDir> <afterDir>

Each directory holds one file per workload, `<workload>.json`, containing
the last stdout line of a traced run, e.g.

    python3 e2ebench/run.py --workload query_mix --seed 1 --seconds 10 \\
        --trace 1 > before/query_mix.json

For every workload present in both directories it prints each per-layer
metric's value before and after, the difference, and the ratio, largest
relative change first. Metrics that are zero on both sides are skipped.
"""
import json
import os
import sys


def load(path: str) -> dict:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    return json.loads(lines[-1])["metrics"]


def rel(b: float, a: float) -> float:
    return abs(a - b) / abs(b) if b else (float("inf") if a else 0.0)


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before_dir, after_dir = sys.argv[1:]
    names = sorted(f for f in os.listdir(before_dir)
                   if f.endswith(".json") and os.path.exists(os.path.join(after_dir, f)))
    if not names:
        sys.exit("no workload file is present in both directories")
    for name in names:
        b = load(os.path.join(before_dir, name))
        a = load(os.path.join(after_dir, name))
        print(f"== {name[:-5]}")
        print(f"{'metric':46} {'unit':>6} {'before':>14} {'after':>14} {'delta':>14} {'ratio':>7}")
        keys = sorted(set(b) | set(a), key=lambda k: -rel(
            b.get(k, {}).get("value", 0.0), a.get(k, {}).get("value", 0.0)))
        for k in keys:
            vb = b.get(k, {}).get("value", 0.0)
            va = a.get(k, {}).get("value", 0.0)
            if vb == 0 and va == 0:
                continue
            unit = (b.get(k) or a.get(k))["unit"]
            ratio = f"{va / vb:7.3f}" if vb else "    new"
            print(f"{k:46} {unit:>6} {vb:14.4f} {va:14.4f} {va - vb:+14.4f} {ratio}")
        print()


if __name__ == "__main__":
    main()
