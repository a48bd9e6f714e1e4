"""Benchmark self-test: do the count counters repeat?

Runs two traced runs of each workload with the same seed and compares,
query by query, the counters a claim may rest on. A counter that
differs between the two runs is printed as NOT REPEATING; README.md
lists those and they must not be used as count evidence. Run from the
checkout root:

    python3 perfbench/selftest.py [--workloads floor,apply] [--seed 7]

Exit status 0 when every counter repeats, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from spread import run_once

COUNTERS = ("jobs", "stages", "tasks", "lineage_cuts", "build_jobs")
STREAM = ("batches",)


def counters(detail: dict) -> dict[str, dict[str, int]]:
    return {
        q: {**{c: r[c] for c in COUNTERS}, **{f"stream.{c}": r["stream"][c] for c in STREAM}}
        for q, r in detail["pass"]["queries"].items()
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="floor,apply")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    bad = 0
    for wl in args.workloads.split(","):
        seen = []
        for _ in range(2):
            run_once(wl, args.seed, 1, trace=1)
            path = os.path.join(".bench_out", f"{wl}_s{args.seed}_t1.json")
            with open(path) as fh:
                seen.append(counters(json.load(fh)))
        a, b = seen
        for q in a:
            for c, v in a[q].items():
                same = v == b[q][c]
                bad += not same
                mark = "repeats" if same else "NOT REPEATING"
                print(f"{wl:9s} {q:34s} {c:15s} {v:>6} {b[q][c]:>6}  {mark}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
