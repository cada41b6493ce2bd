#!/usr/bin/env python3
"""Runs one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the library and the benchmark with sbt
(one to two minutes); later runs reuse the build until a source file
changes. The measuring JVM then prints a table of checks and metrics, and
as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Environment: SPARK_DRIVER_MEM sets the driver heap (default 4g). Build
outputs, the run's inputs and outputs, results.jsonl and traces live under
.bench_build/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# the reference sf0.01 tables the query workload reads
TABLES = ("lineitem", "part", "events", "documents")

# Spark on JDK 17 needs these outside spark-submit; the library's build
# passes the same list to its forked JVMs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def java_cmd(classpath, main, args):
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={BUILD}/tmp",
            *ADD_OPENS, "-cp", classpath, main, *args]


def run_child(cmd, timeout, cwd=ROOT, capture=False):
    """Runs cmd in its own process group and always reaps the whole group."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, text=True,
                         stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build(digest):
    """Compiles with sbt once per source digest; returns the classpath."""
    stamp = os.path.join(BUILD, "classpath." + digest)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    print("perfbench: building with sbt", file=sys.stderr)
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"],
                        timeout=800, cwd=HERE, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail(2, "sbt build failed")
    classpath = lines[-1].strip()
    # the classpath names sbt's target directories, which hold only this
    # build: a stamp of an earlier source digest no longer describes them
    for old in glob.glob(os.path.join(BUILD, "classpath.*")):
        os.remove(old)
    with open(stamp, "w") as fh:
        fh.write(classpath)
    return classpath


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(2, f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, "the library sources (src/main/scala/graft) are missing")
    missing = [t for t in TABLES
               if not os.path.isfile(os.path.join(HERE, "tables", t + ".parquet"))]
    if missing:
        fail(2, f"query tables missing from perfbench/tables: {', '.join(missing)}")

    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    digest = source_digest()
    classpath = build(digest)
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(classpath, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--tables", os.path.join(HERE, "tables"),
        "--git_sha", git_sha(), "--source_digest", digest])
    try:
        rc, out = run_child(cmd, timeout=RUN_TIMEOUT_S, capture=True)
    except subprocess.TimeoutExpired:
        fail(3, f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    if rc != 0 or not lines:
        fail(3, f"benchmark JVM exited with {rc}")
    result = json.loads(lines[-1])
    listed = {m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or \
            set(result["metrics"]) != listed:
        fail(4, "result does not match the metrics BENCHMARK.json lists")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
