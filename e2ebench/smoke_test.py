#!/usr/bin/env python3
"""Smoke test of the benchmark itself at tiny sizes.

    python3 e2ebench/smoke_test.py

Runs every workload of BENCHMARK.json with --smoke (query_mix: 3 queries
on smaller tables and 120 documents in 4 ingest batches; eda_pipeline
runs its usual 2,000-row fixture), untraced and traced, and asserts that
each run is correct and that the untraced run prints every end-to-end
metric and the traced run every per-layer metric that BENCHMARK.json
declares, each with its declared unit. Takes about six minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit code {p.returncode}"
    r = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, sorted(r)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
    return r["metrics"]


def expect(metrics: dict, declared, workload: str) -> None:
    for m in declared:
        got = metrics.get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{workload}: {m['name']} not a number"


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [x["name"] for x in bench["workloads"]]:
        expect(run(w, 0), bench["end_to_end"], w)
        expect(run(w, 1), bench["per_layer"], w)
        print(f"ok {w}", flush=True)


if __name__ == "__main__":
    main()
