#!/usr/bin/env python3
"""Check that the per-layer counts marked exact repeat across two traced runs.

Usage, from the root of a graft checkout:

    python3 perfbench/check_counts.py --workload curation_batch --seed 1

Runs `perfbench/run.py --trace 1` twice for the workload and compares every
per-layer metric the benchmark marks exact (jobs, tasks, shuffle bytes, input
rows, candidate and surviving pairs, state rows). Metrics that belong to other
workloads read 0 in both runs and are skipped. Exits 1 if any count differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def last_json(args):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + args,
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    exact = [m["name"] for m in last_json(["--list-metrics"])["per_layer"] if m["exact"]]
    run = ["--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", "1"]
    first, second = last_json(run)["metrics"], last_json(run)["metrics"]
    differ = 0
    for name in exact:
        x, y = first[name]["value"], second[name]["value"]
        if x == 0 and y == 0:
            continue
        same = x == y
        differ += not same
        print(f"{'same' if same else 'DIFF'} {name:48s} {x:>16.6g} {y:>16.6g}")
    print(f"{differ} of the exact counts differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
