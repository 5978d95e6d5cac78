#!/usr/bin/env python3
"""Compare two saved benchmark results.

    python3 perfbench/compare.py BEFORE.json AFTER.json

The files are the ones `run.py` saves under perfbench/.work/results/. Prints
after/before for every metric both carry and for every op's median latency.
Refuses results taken at different core counts: the same code reads 1.4-2x
apart between a 32-core and a 4-core host, so such a ratio says nothing
about the code."""

import json
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    ha, hb = a["host"], b["host"]
    if ha["cpus"] != hb["cpus"]:
        sys.exit(f"refusing to compare: taken at {ha['cpus']} and {hb['cpus']} cpus")
    if ha["workload"] != hb["workload"]:
        sys.exit(f"refusing to compare different workloads: {ha['workload']}, {hb['workload']}")
    print(f"{ha['workload']} at {ha['cpus']} cpus; seeds {ha['seed']} -> {hb['seed']}")
    for name in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
        ratio = f"{vb / va:.3f}" if va else "n/a"
        print(f"  {name:45s} {va:14.6g} {vb:14.6g}  x{ratio}")
    la, lb = a.get("op_latency_s", {}), b.get("op_latency_s", {})
    for op in sorted(set(la) & set(lb)):
        print(f"  latency {op:37s} {la[op]:14.4f} {lb[op]:14.4f}  x{lb[op] / la[op]:.3f}")


if __name__ == "__main__":
    main()
