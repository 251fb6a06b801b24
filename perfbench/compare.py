#!/usr/bin/env python3
"""Compare the per-layer metrics of two traced results of one workload.

    python3 perfbench/compare.py <result-a.json> <result-b.json>

Results are the files run.py writes to perfbench/work/results/. Prints
each metric's two values and whether they repeat exactly, so a count can
back a claim only if it repeats between two runs with the same seed.
"""
import json
import sys


def main():
    a, b = (json.load(open(p)) for p in sys.argv[1:3])
    if a["workload"] != b["workload"]:
        raise SystemExit("results are of different workloads")
    la, lb = a["per_layer"], b["per_layer"]
    same = []
    for k in sorted(la):
        va, vb = la[k][0], lb.get(k, [None])[0]
        eq = va == vb
        if eq:
            same.append(k)
        print(f"{k:34s} {va:>16.6g} {vb:>16.6g}  {'same' if eq else 'differs'}")
    print(f"\n{len(same)} of {len(la)} repeat exactly "
          f"(seeds {a['seed']} and {b['seed']}, workload {a['workload']})")


if __name__ == "__main__":
    main()
