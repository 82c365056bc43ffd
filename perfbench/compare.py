#!/usr/bin/env python3
"""Compare two sets of runs of one workload against BENCHMARK.json's bounds.

Usage (from the root of a checkout):
    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds, one per line, the last line run.py printed for a run (the
runs of one workload, one commit). For every end-to-end metric it prints
both sides' medians and quartiles, the parent's spread, and whether the
change's median stays within the metric's bound of the parent's.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def values(path, name):
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r["metrics"][name]["value"] for r in runs]


def main(parent, change):
    with open("BENCHMARK.json") as fh:
        metrics = json.load(fh)["end_to_end"]
    ok = True
    for m in metrics:
        p, c = values(parent, m["name"]), values(change, m["name"])
        held = stats.within_bound(p, c, m["bound"], m["better"])
        ok &= held
        pq, cq = stats.quartiles(p), stats.quartiles(c)
        print(f"{m['name']:<14}{m['unit']:>8}  parent {pq[1]:.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
              f"  change {cq[1]:.4f} [{cq[0]:.4f}, {cq[2]:.4f}]"
              f"  parent spread {stats.spread(p):.3f}  bound {m['bound']}"
              f"  {'within' if held else 'WORSE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
