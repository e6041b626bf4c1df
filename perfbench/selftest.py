#!/usr/bin/env python3
"""Small-scale self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all four) it makes three small runs
(`--scale small`, a few ops each):
  1. untraced: the result line is well formed, correct, and carries every
     end-to-end metric of BENCHMARK.json with its unit;
  2. traced: the result line carries every per-layer metric with its unit;
  3. every check's expected value perturbed (`--break-check all`): the run
     is reported incorrect, and each check evaluated in run 1 is among the
     failed checks.
Run from the root of a checkout; exits non-zero on the first failure.
"""
import json
import subprocess
import sys
from pathlib import Path

WORKLOADS = ["catalog", "curation", "search", "graded"]


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", trace, "--scale", "small", *extra],
                       capture_output=True, text=True)
    lines = p.stdout.strip().split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        raise AssertionError(f"{workload}: run failed (exit {p.returncode})\n{p.stdout[-3000:]}")
    info = {}
    for line in lines:
        if line.startswith("# checks ") or line.startswith("# failed_checks"):
            key, _, names = line[2:].partition(" ")
            info[key] = set(filter(None, names.split(",")))
    return json.loads(lines[-1]), info


def expect(cond, msg):
    if not cond:
        raise AssertionError(msg)
    print(f"  ok  {msg}", flush=True)


def check_metrics(workload, result, wanted):
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{workload}: result keys")
    expect(isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{workload}: attempted >= 1")
    for m in wanted:
        got = result["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"] and isinstance(got["value"], (int, float)),
               f"{workload}: {m['name']} emitted in {m['unit']}")
    expect(set(result["metrics"]) == {m["name"] for m in wanted}, f"{workload}: no other metrics")


def main():
    bench = json.loads(Path("BENCHMARK.json").read_text())
    for w in sys.argv[1:] or WORKLOADS:
        print(w, flush=True)
        plain, info = run(w, "0")
        expect(plain["correct"] and plain["failed"] == 0, f"{w}: untraced run correct")
        check_metrics(w, plain, bench["end_to_end"])
        traced, _ = run(w, "1")
        expect(traced["correct"], f"{w}: traced run correct")
        check_metrics(w, traced, bench["per_layer"])
        broken, binfo = run(w, "0", "--break-check", "all")
        expect(not broken["correct"], f"{w}: perturbed expectations make the run incorrect")
        for name in sorted(info["checks"]):
            expect(name in binfo["failed_checks"], f"{w}: check {name} fails on a wrong expected value")
    print("selftest passed")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"FAIL {e}")
        sys.exit(1)
