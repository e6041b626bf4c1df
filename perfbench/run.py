#!/usr/bin/env python3
"""Run one benchmark workload of the recipe engine.

    python3 perfbench/run.py --workload <catalog|curation|search|graded> \
        --seed <n> --seconds <s> --trace <0|1> [--scale small] \
        [--trace-out <file>] [--break-check <check name>]

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/src`) into `.bench_build/`
(see build.py); later runs reuse it while the sources are unchanged. Inputs
are generated from the seed under `.bench_work/`, which is removed after
the run. The last line of standard output is the JSON result.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "curation", "search", "graded"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", choices=["full", "small"], default="full")
    ap.add_argument("--trace-out")
    ap.add_argument("--break-check")
    a = ap.parse_args()

    root = Path.cwd()
    classes, jars = build.build(root)
    work = root / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed young generation keeps peak RSS from following G1's sizing
    cmd = ["java", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--scale", a.scale]
    if a.trace_out:
        cmd += ["--trace-out", a.trace_out]
    if a.break_check:
        cmd += ["--break-check", a.break_check]
    # every file the run writes stays under the checkout: SPARK_LOCAL_DIRS would
    # override spark.local.dir
    env = dict(os.environ, SPARK_GRAFT_LAYOUT_DIR=str(work / "layouts"))
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S} s\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out.replace('{"correct"', '# {"correct"'))
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode})\n")
        return proc.returncode or 4
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    sys.stderr.write(f"perfbench: done in {time.time() - t0:.1f} s\n")
    sys.exit(code)
