#!/usr/bin/env python3
"""Run one workload once per seed and summarise each metric.

    python3 perfbench/repeat.py --workload stream_drains --seconds 10 \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--trace 0|1]

Prints, per metric, the median, the first and third quartiles (Python's
statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, then the
failed share of the operations attempted. Runs are sequential.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarise(lines):
    names = list(lines[0]["metrics"])
    rows = []
    for n in names:
        vals = [ln["metrics"][n]["value"] for ln in lines]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0], None, vals[0]))
        spread = (q3 - q1) / med if med else 0.0
        rows.append((n, lines[0]["metrics"][n]["unit"], med, q1, q3, spread))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seeds", nargs="+", required=True)
    args = ap.parse_args()
    lines = []
    for seed in args.seeds:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", seed, "--seconds", args.seconds,
             "--trace", args.trace], capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        line = json.loads(p.stdout.strip().splitlines()[-1])
        notes = [ln for ln in p.stderr.splitlines()
                 if ln.startswith("perfbench:")]
        print(json.dumps(line), *notes, sep="\n", flush=True)
        lines.append(line)
    print(f"{'metric':34} {'unit':8} {'median':>12} {'q1':>12} {'q3':>12} spread")
    for n, u, med, q1, q3, spread in summarise(lines):
        print(f"{n:34} {u:8} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:6.3f}")
    att = sum(ln["attempted"] for ln in lines)
    failed = sum(ln["failed"] for ln in lines)
    print(f"correct {all(ln['correct'] for ln in lines)}, "
          f"failed {failed}/{att}")


if __name__ == "__main__":
    main()
