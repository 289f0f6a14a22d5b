#!/usr/bin/env python3
"""Flag every deterministic counter that moved between two traced results.

    python3 perfbench/diff_counters.py A.json B.json

A and B are result files of traced runs (run.py keeps them under
.bench_build/perfbench/results/<workload>-seed<n>-trace1.json). Jobs,
stages, tasks, files read, bytes written, warehouse files and shuffle bytes
do not depend on the machine, so for the same code, workload and seed they
must be identical: any change is a change in what the program does, not
drift. Exits 1 when a counter moved or is missing on one side.
"""
import json
import sys


def main(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)["counters"]
    with open(b_path) as f:
        b = json.load(f)["counters"]
    moved = 0
    for k in sorted(set(a) | set(b)):
        va, vb = a.get(k), b.get(k)
        if va != vb:
            moved += 1
            change = "" if va is None or vb is None or va == 0 else f" ({(vb - va) / va:+.1%})"
            print(f"MOVED {k}: {va} -> {vb}{change}")
    print(f"{moved} of {len(set(a) | set(b))} counters moved")
    return 1 if moved else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
