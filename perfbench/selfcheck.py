#!/usr/bin/env python3
"""Smoke-size self-check of the benchmark.

Runs every workload once untraced and once traced, on tiny seeded inputs
(the `smoke` NHS corpus; the table sample is already small), and asserts
that each run exits 0, reports correct outputs, and emits every metric
BENCHMARK.json names (end-to-end untraced, per-layer traced), and that the
traced run wrote its spans. Prints the traced-vs-untraced job_s of each
workload (at smoke size; README.md gives the bench-size overhead).

    python3 perfbench/selfcheck.py [--seed 7]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace), "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and len(lines) >= 2, \
        f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [x["name"] for x in spec["workloads"]]:
        job = {}
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            record, result = run(w, a.seed, trace)
            assert result["correct"] and result["failed"] == 0, f"{w}: {result}"
            missing = {m["name"] for m in names} - set(result["metrics"])
            assert not missing, f"{w} trace={trace}: metrics not emitted: {sorted(missing)}"
            if trace:
                spans = os.path.join(HERE, ".runs", w, "work", "spans.jsonl")
                assert os.path.getsize(spans) > 0, f"{w}: no spans written"
            job[trace] = record["job_s"]
        print(f"{w}: ok; job_s untraced {job[0]:.2f} s, traced {job[1]:.2f} s "
              f"({(job[1] / job[0] - 1) * 100:+.0f}% tracing overhead at smoke size)")


if __name__ == "__main__":
    main()
