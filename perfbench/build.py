"""Build file of the benchmark: compiles the engine and the benchmark.

The engine sources (`src/main/scala`) and the benchmark sources
(`perfbench/src`) are compiled together with the Scala compiler that ships
in Spark's jar directory, against Spark's jars, into
`.bench_build/classes`. A stamp of the source contents skips the compile
while nothing changed. Spark is found through SPARK_HOME, else through
`spark-submit` on the PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"perfbench: engine sources not found under {root}")
    return sorted(engine.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))


def build(root):
    """Compile when the sources changed; returns (classes dir, jars dir)."""
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = root / ".bench_build"
    classes = out / "classes"
    stamp_file = out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes, jars
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = os.pathsep.join(str(p) for p in sorted(jars.glob("scala-*.jar"))
                               if p.name.split("-")[1] in ("compiler", "library", "reflect"))
    args_file = out / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{args_file}"]
    sys.stderr.write(f"perfbench: compiling {len(files)} sources\n")
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compile failed")
    stamp_file.write_text(stamp)
    return classes, jars
