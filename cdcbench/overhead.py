#!/usr/bin/env python3
"""Tracing overhead of the CDC benchmark.

Usage (from the repository root):

    python3 cdcbench/overhead.py --workload trickle --seed 1 --seconds 10

Runs the workload untraced and traced with the same seed and prints, for
each end-to-end metric, the untraced value, the traced value and the traced
run's change relative to the untraced one.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed (trace {trace}): {p.stderr.strip()}")
    return json.loads(lines[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    print(f"{'metric':<18} {'untraced':>12} {'traced':>12} {'change':>8}")
    for name, m in plain.items():
        t = traced[f"trace.{name}"]["value"]
        change = (t - m["value"]) / m["value"] if m["value"] else 0.0
        print(f"{name:<18} {m['value']:>12.3f} {t:>12.3f} {change:>+8.1%}")


if __name__ == "__main__":
    main()
