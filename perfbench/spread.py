"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed for each workload and prints, per
metric, the median and the quartile spread (Q3 - Q1) / median, the
figure the bounds in BENCHMARK.json are set against. Run from the
checkout root:

    python3 perfbench/spread.py --workloads floor,apply \
        --seeds 1-10 [--out spread.json]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    done = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    took = time.perf_counter() - t0
    if done.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {done.returncode}:\n{done.stderr[-2000:]}")
    return json.loads(done.stdout.strip().splitlines()[-1]), took


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="floor,apply")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            res, took = run_once(wl, s, bench["run_seconds"])
            runs.append({"seed": s, "took_s": took, **res})
            print(f"{wl} seed {s}: {took:.1f} s correct={res['correct']}", file=sys.stderr)
        rows = {}
        for name, bound in bounds.items():
            med, sp = spread([r["metrics"][name]["value"] for r in runs])
            rows[name] = {"median": med, "spread": sp, "bound": bound}
            flag = "" if sp < bound / 3 else "  <-- above bound/3"
            print(f"{wl:9s} {name:13s} median {med:10.4f}  spread {sp:6.3f}  bound {bound}{flag}")
        took = [r["took_s"] for r in runs]
        print(f"{wl:9s} run time   median {statistics.median(took):.1f} s  max {max(took):.1f} s")
        report[wl] = {"metrics": rows, "runs": runs}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
