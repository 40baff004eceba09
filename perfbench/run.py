#!/usr/bin/env python3
"""Benchmark runner for the dedup engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source with sbt when the build is missing or older than a source file,
then runs one workload in one JVM (local[4]) and re-prints its report.
The last line of standard output is the JSON result. Workloads,
metrics and the layer predictions are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
CLASSPATH = BUILD / "classpath.txt"

WORKLOADS = ["batch_dedup", "skewed_containment"]
HEAP = "2g"
# The time a run may take once built; the first run may take longer.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# Spark on JDK 17 outside spark-submit needs these opens (the engine's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change requires a rebuild."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             ROOT / "project" / "build.properties", BENCH / "project" / "build.properties"]
    for r in roots:
        files.extend(p for p in r.rglob("*") if p.is_file())
    return files


def build(deadline):
    newest = max(p.stat().st_mtime for p in sources() if p.exists())
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=max(1.0, deadline - time.monotonic()))
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    BUILD.mkdir(exist_ok=True)
    CLASSPATH.write_text(cp + "\n")
    # stamp the cache with the sources it was built from, so a source
    # edited while sbt ran still triggers the next build
    os.utime(CLASSPATH, (newest, newest))
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"engine sources not found under {ROOT}; run from a full checkout")

    start = time.monotonic()
    built_before = CLASSPATH.exists()
    cp = build(start + BUILD_LIMIT_S)
    limit = RUN_LIMIT_S if built_before else BUILD_LIMIT_S + 10
    deadline = start + limit

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {limit} s; killed")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"benchmark JVM exited {proc.returncode} without a result")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
