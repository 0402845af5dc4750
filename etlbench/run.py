#!/usr/bin/env python3
"""Benchmark runner for the graft engine's daily ETL job and its readers.

Usage (from the repository root):

    python3 etlbench/run.py --workload daily_job --seed 1 --seconds 12 --trace 0

Workloads: daily_job, analyst_suite (see WORKLOADS.md).

The first run in a checkout builds the benchmark and the engine with sbt
(offline) into .bench_build/. The input tables are etlbench/fixture/, a
slice of the engine's sf0.1 fixture (slice_fixture.py). Every measured run
is then a plain `java` process on that classpath, with its own empty
scratch root (java.io.tmpdir) that is deleted when the run ends. The
last line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
FIXTURE = os.path.join(HERE, "fixture")
WORKLOADS = ("daily_job", "analyst_suite")
# daily_job runs under the reference's 1024 MB memory limit (BASELINE.md)
HEAP = {"daily_job": "1g", "analyst_suite": "3g"}
RUN_DEADLINE_S = 170
# local[3]: one core of a 4-core box stays free for the driver thread, JIT
# and GC, so a stalled core does not hold back every stage.
CORES = max(1, min(3, (os.cpu_count() or 1) - 1))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha1()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos) and "sbt.repository.config" not in opts:
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    return env


def build():
    """Compile the benchmark and the engine once per source state."""
    sources = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    stamp = os.path.join(BUILD, "build.stamp")
    key = tree_hash(sources)
    if os.path.isfile(stamp) and open(stamp).read() == key and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}", 1)
    with open(stamp, "w") as fh:
        fh.write(key)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def java_cmd(main, heap, tmpdir, args):
    cp = os.pathsep.join([CLASSES, os.path.join(HERE, "src", "main", "resources"),
                          os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmpdir}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmpdir}/hadoop",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def run_java(cmd, cwd, log, deadline):
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
    return rc


def record(out_dir):
    """Run every op any seed can reach once per workload and dump digests
    and results under out_dir, for crosscheck.py."""
    build()
    for w in WORKLOADS:
        work = os.path.join(BUILD, "record-work")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        cmd = java_cmd("etlbench.Main", HEAP[w], work, [
            "--workload", w, "--cores", str(CORES),
            "--fixture", FIXTURE, "--record", os.path.abspath(os.path.join(out_dir, w))])
        rc = run_java(cmd, work, os.path.join(BUILD, f"record-{w}.log"), time.time() + 1800)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            fail(f"recording {w} failed; log in {BUILD}/record-{w}.log", 1)
    with open(os.path.join(out_dir, "fixture"), "w") as fh:
        fh.write(FIXTURE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="DIR",
                    help="record every op's digest and result for crosscheck.py")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a repository checkout")
    if a.record:
        return record(a.record)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    build()

    cores = CORES
    runs = os.path.join(BUILD, "runs")
    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    scratch = os.path.join(runs, tag)
    out = scratch + ".json"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cmd = java_cmd("etlbench.Main", HEAP[a.workload], scratch, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--fixture", FIXTURE,
        "--expected", os.path.join(HERE, "expected.tsv"), "--out", out])
    log = os.path.join(runs, f"last-{a.workload}.log")
    launched = time.time()
    try:
        rc = run_java(cmd, scratch, log, launched + RUN_DEADLINE_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail("run timed out" if rc is None else f"run failed (exit {rc}); log in {log}", 1)
    res = json.load(open(out))
    os.remove(out)

    if a.trace:
        metrics = res["layers"]
    else:
        metrics = dict(res["e2e"])
        metrics["setup_s"] = {"value": res["first_op_ms"] / 1000.0 - launched, "unit": "s"}
    print(f"etlbench: {a.workload} seed={a.seed} ops={res['attempted']} "
          f"window={res['window_s']:.2f}s tail=p{res['tail_percentile']:.0f}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
