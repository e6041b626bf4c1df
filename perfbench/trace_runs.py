#!/usr/bin/env python3
"""Record one traced run per workload into perfbench/traces/.

    python3 perfbench/trace_runs.py [--seed 5] [--scale small] [workload ...]

For each workload it makes an untraced and a traced run with the same seed
and run length, and writes perfbench/traces/<workload>.json: the traced
run's spans, self time and Spark counts per layer and module metrics,
plus the untraced end-to-end metrics and the tracing overhead (traced
over untraced, minus one). Run from the root of a checkout.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

WORKLOADS = ["catalog", "curation", "search", "graded"]


def run(workload, seed, seconds, trace, scale, out=None):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace, "--scale", scale]
    if out:
        cmd += ["--trace-out", str(out)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        sys.exit(f"{workload}: run failed (exit {p.returncode})\n{p.stdout[-3000:]}")
    return json.loads(lines[-1]), [l for l in lines if l.startswith("#")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--scale", choices=["full", "small"], default="full")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    traces = Path("perfbench/traces")
    traces.mkdir(exist_ok=True)
    for w in a.workloads or WORKLOADS:
        plain, plain_report = run(w, a.seed, seconds, "0", a.scale)
        out = traces / f"{w}.json"
        traced, traced_report = run(w, a.seed, seconds, "1", a.scale, out)
        doc = json.loads(out.read_text())
        doc["scale"] = a.scale
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        doc["untraced_e2e"] = plain["metrics"]
        doc["untraced_report"] = plain_report
        doc["traced_report"] = traced_report
        doc["tracing_overhead"] = {
            k: doc["traced_e2e"][k]["value"] / e2e[k] - 1
            for k in ("op_p50_ms", "ops_per_s", "cpu_ms_per_op") if e2e.get(k)}
        out.write_text(json.dumps(doc, indent=1) + "\n")
        print(f"{w}: wrote {out}; overhead {doc['tracing_overhead']}")


if __name__ == "__main__":
    main()
