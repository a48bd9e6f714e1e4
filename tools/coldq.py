"""Cold single-shot per-query timing — the DRIVER's shape (VERDICT r15
item #1): bench.py measures each query ONCE in a cold JVM, so warm
same-session medians (tools/qtime.py) systematically hide cold costs
(codegen compiles, first-broadcast builds, first-exchange setup).

This tool spawns a FRESH python/JVM subprocess per sample; each sample
replays bench.py's exact warmup (region count, range sum, identity
mapInPandas, unrecorded q1) and then times each named query once with
the noop sink, in the given order. Repeat with --samples N and compare
per-sample columns (cold numbers are noisy; 3 samples give a median).

Usage:
  python tools/coldq.py [--sf DIR] [--samples N] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, "/root/repo")
from sparkswift.session import get_spark
from sparkswift import suite

sf = sys.argv[1]
names = sys.argv[2:]
spark = get_spark("coldq")
spark.sparkContext.setLogLevel("ERROR")
qs = dict(suite.queries())
qs.update(suite.raw_queries())

spark.read.parquet(os.path.join(sf, "region.parquet")).count()
spark.range(1_000_000).selectExpr("sum(id * 2)").collect()

def _ident(it):
    for pdf in it:
        yield pdf

spark.range(10_000, numPartitions=32).mapInPandas(_ident, "id long").write.format(
    "noop"
).mode("overwrite").save()
qs["q1_pricing_summary"](spark, sf).write.format("noop").mode("overwrite").save()

def drop_persistent_blocks():
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()

drop_persistent_blocks()
t = {}
for name in names:
    spark.sparkContext.setJobDescription(f"coldq:{name}")
    t0 = time.time()
    qs[name](spark, sf).write.format("noop").mode("overwrite").save()
    t[name] = round(time.time() - t0, 3)
    drop_persistent_blocks()
print("COLDQ_JSON:" + json.dumps(t))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    per_q: dict[str, list[float]] = {q: [] for q in args.queries}
    for s in range(args.samples):
        out = subprocess.run(
            [sys.executable, "-c", CHILD, args.sf, *args.queries],
            capture_output=True,
            text=True,
            env=os.environ,
        )
        line = next(
            (l for l in out.stdout.splitlines() if l.startswith("COLDQ_JSON:")), None
        )
        if line is None:
            sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-3000:] + "\n")
            raise SystemExit(f"sample {s}: no result line")
        t = json.loads(line[len("COLDQ_JSON:") :])
        for q, v in t.items():
            per_q[q].append(v)
        print(f"sample {s}: " + " ".join(f"{q}={v}" for q, v in t.items()), flush=True)

    print("\nmedians:")
    for q, vals in per_q.items():
        print(f"  {q}: {statistics.median(vals):.3f}  {vals}")


if __name__ == "__main__":
    main()
