#!/usr/bin/env python3
"""Crawl + corpus benchmark for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library sources and the benchmark's own Scala files with scalac
(cached by content hash under $CARGO_TARGET_DIR, default .bench_build), runs
one workload in a single JVM on local[nproc], and prints one JSON result as
the last line of stdout. Workloads and metrics are described in
BENCHMARK.json at the root of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("crawl_fetch_heavy", "corpus_queries")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
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


def sources():
    out = []
    for base in (SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """Spark's jars, which include the Scala compiler and library."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return os.path.join(jars, "*")


def build(build_dir):
    """Compile library + benchmark sources once per content hash."""
    srcs = sources()
    if not any(s.startswith(SRC) for s in srcs):
        fail(f"no library sources under {SRC}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    if os.path.isdir(build_dir):
        for d in os.listdir(build_dir):
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", spark_jars(),
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("scalac failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


def run_jvm(classes, work, args):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, spark_jars()]),
              "perfbench.PerfBench", "--bench", HERE, "--work", work,
              "--out", out] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        # on a timeout or a signal to this script, the JVM goes with it
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        fail(f"JVM exited with code {code}")
    with open(out) as f:
        return json.load(f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(HERE, "data")):
        fail("input tables missing under perfbench/data")
    build_dir = os.path.abspath(
        os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
    classes = build(build_dir)
    work = os.path.join(build_dir, "work-" + (a.workload or "selftest"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            res = run_jvm(classes, work, ["--selftest"])
            print(json.dumps(res))
            sys.exit(0 if res.get("selftest") == "ok" else 1)
        t = time.time()
        res = run_jvm(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
        print(f"perfbench: {a.workload} seed {a.seed} took "
              f"{time.time() - t:.1f} s", file=sys.stderr)
        last = os.path.join(build_dir, "last-" + a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("corpus_digests.tsv", "crawl_seen.tsv"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), last)
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
