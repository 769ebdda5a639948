#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result.

    python3 perfbench/run.py --workload ingest|search|vector|refresh --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine sources
(src/main/scala) together with the benchmark's own code (perfbench/src)
with sbt; later runs reuse the build while neither source tree changes.
Spark comes from SPARK_HOME, or else from the spark-submit on PATH. The
benchmark JVM prints a table of every metric (median, quartiles, sample
count), notes on known engine behaviour, and as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones in BENCHMARK.json, with --trace 1 the
per-layer ones; spans of a traced run are written to
perfbench/.work/trace/. Inputs are generated from the seed under
perfbench/.work/ and removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala"
WORK = HERE / ".work"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.fingerprint"
WORKLOADS = ("ingest", "search", "vector", "refresh")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    trees = [ENGINE, HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for t in trees:
        files += sorted(p for p in t.rglob("*.scala") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    return pathlib.Path(home)


def build(spark):
    fp = fingerprint()
    if STAMP.exists() and STAMP.read_text() == fp and CLASSES.is_dir():
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile"]
    try:
        res = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                             env=dict(os.environ, SPARK_HOME=str(spark)))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
    if res.returncode != 0:
        fail(f"build failed (sbt exit {res.returncode})")
    STAMP.write_text(fp)


def declared_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    d = json.loads(spec.read_text())
    return [m["name"] for m in d["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ENGINE / "graft").is_dir():
        fail(f"engine sources not found at {ENGINE}; run from a full checkout")
    spark = spark_home()
    build(spark)

    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark / 'jars' / '*'}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]
    try:
        res = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    out = res.stdout.decode(errors="replace").rstrip("\n").split("\n")
    if res.returncode != 0 or not out or not out[-1].startswith("{"):
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail(f"benchmark JVM exited {res.returncode} without a result")
    result = json.loads(out[-1])
    want = declared_metrics(a.trace == 1)
    if want is not None:
        missing = [m for m in want if m not in result["metrics"]]
        if missing:
            fail(f"result lacks declared metrics: {missing}")
    print("\n".join(out))


if __name__ == "__main__":
    main()
