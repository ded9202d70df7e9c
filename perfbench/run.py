#!/usr/bin/env python3
"""Build graft and the benchmark program from source, run one workload, and
print the result as one JSON object on the last line of stdout.

Usage (from the repository root):
    python3 perfbench/run.py --workload join_mix --seed 1 --seconds 10 --trace 0

The graft sources under src/main/scala and the benchmark sources under
perfbench/src are compiled with the Scala compiler that ships in Spark's jar
directory: $SPARK_HOME/jars, or else the unmanagedBase that build.sbt
declares. No build file of the repository is changed. Compiled classes are cached under
$CARGO_TARGET_DIR (default .bench_build), keyed by a hash of every source.
All run-time files (inputs, Spark local files, checkpoints) live there as well.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("join_mix", "window_scan", "stream_geofence")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def heap_gb():
    """Half of physical memory, capped at 8g and at least 2g (the sizing
    the repository's tier-1 tests use)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def run_checked(cmd, timeout, what):
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{what} timed out after {timeout}s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        fail(f"{what} failed with exit code {p.returncode}")


def compile_scala(jars_cp, classpath, out_dir, sources, what):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    run_checked(cmd + sources, BUILD_TIMEOUT_S, f"compiling {what}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def source_hash(paths):
    h = hashlib.sha256()
    for s in paths:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(build_dir, jars):
    graft_src = scala_sources(os.path.join("src", "main", "scala"))
    bench_src = scala_sources(os.path.join(HERE, "src"))
    if not any(s.endswith(os.path.join("graft", "GraftExtensions.scala"))
               for s in graft_src):
        fail("graft sources (src/main/scala/graft) not found; run from the "
             "repository root")
    graft_key, bench_key = source_hash(graft_src), source_hash(graft_src + bench_src)
    graft_cls = os.path.join(build_dir, "classes-graft-" + graft_key)
    bench_cls = os.path.join(build_dir, "classes-bench-" + bench_key)
    jars_cp = os.path.join(jars, "*")
    if not os.path.isdir(graft_cls):
        compile_scala(jars_cp, None, graft_cls, graft_src, "graft")
    if not os.path.isdir(bench_cls):
        compile_scala(jars_cp, graft_cls, bench_cls, bench_src, "perfbench")
    return graft_cls, bench_cls, bench_key


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def git_sha():
    if not os.path.isdir(".git"):
        return "none"
    try:
        p = subprocess.run(["git", "rev-parse", "--short", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=30)
        return p.stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    jars = spark_jars()
    if not jars or not os.path.isdir(jars):
        fail(f"Spark jars not found (SPARK_HOME unset and no unmanagedBase in build.sbt): {jars}")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    graft_cls, bench_cls, key = build(build_dir, jars)

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    heap = heap_gb()
    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{heap}g", "-Xss4m",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join([bench_cls, graft_cls, os.path.join(jars, "*")]),
        "perfbench.PerfBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--heap-gb", str(heap), "--work", work,
        "--source-hash", key, "--git-sha", git_sha(), "--out", result_file,
        "--spans", os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.jsonl"),
    ]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark run timed out after {RUN_TIMEOUT_S}s")
    sys.stdout.write(p.stdout)
    if p.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(p.stderr[-8000:])
        fail(f"benchmark JVM exited with code {p.returncode}")
    with open(result_file) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if set(res) != {"correct", "attempted", "failed", "metrics"} or res["attempted"] < 1:
        fail("malformed result: " + json.dumps(res))
    print(f"perfbench: {a.workload} finished in {time.time() - t0:.1f}s",
          file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
