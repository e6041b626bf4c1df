#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload graded --seeds 1,2,3,4,5

Each run is untraced and measures BENCHMARK.json's run_seconds. For every
end-to-end metric in the result lines it prints the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread: the distance between
the first and third quartile as a share of the median, with the metric's
bound and whether the spread is below a third of it. Run from the root of
a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        sys.exit(f"seed {seed}: run failed (exit {p.returncode})\n{p.stdout[-2000:]}")
    return json.loads(lines[-1]), wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls, bad = {}, [], 0
    for seed in [int(s) for s in a.seeds.split(",")]:
        res, wall = run(a.workload, seed, bench["run_seconds"])
        walls.append(wall)
        bad += 0 if res["correct"] and res["failed"] == 0 else 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f} s, correct {res['correct']}, "
              f"attempted {res['attempted']}, failed {res['failed']}", flush=True)
    print(f"{a.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s, incorrect runs {bad}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        verdict = "ok" if spread < bounds[k] / 3 else "WIDE"
        print(f"  {k:24s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
              f"spread {spread:.4f} bound {bounds[k]} {verdict}")


if __name__ == "__main__":
    main()
