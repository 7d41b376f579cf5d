#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_gates --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs the workload in one fresh JVM on local[nproc], checks every output,
and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full record of the run, with the context sentinels
(load average and calibration query at start and end), every failing
operation and the samples behind each metric, is written to
``perfbench/results/<workload>/``. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.1")
REFS = os.path.join(HERE, "refs", "sf0.1.tsv")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp.txt")
WORKLOADS = ("etl_gates", "curate_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
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


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "compile", "writeClasspath"],
                   BUILD_TIMEOUT_S, cwd=HERE, env=env,
                   stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_cmd(main_class, args, tmp):
    """The JVM command line for a main class of the benchmark's build."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file outside the checkout
    return jvm + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, main_class] + args


def run_jvm(args, work, raw, deadline):
    cmd = java_cmd("perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA, "--work", work, "--refs", REFS, "--out", raw,
        "--cores", str(os.cpu_count() or 1)], os.path.join(work, "tmp"))
    timeout = max(10.0, deadline - time.time())
    rc = run_group(cmd, timeout, cwd=work, stdout=sys.stderr,
                   stderr=sys.stderr)
    if rc != 0 or not os.path.exists(raw):
        fail(f"workload run failed (jvm exit {rc})")


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(HERE, "results"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.isdir(DATA) or not os.path.exists(REFS):
        fail("benchmark data or reference fingerprints missing")
    t = time.time()
    build()
    start += time.time() - t   # the run's time limit excludes the build

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    run_jvm(args, work, raw_path, start + RUN_TIMEOUT_S)
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    rec = metrics.record(raw, trace=bool(args.trace))
    out_dir = os.path.join(args.results, args.workload)
    os.makedirs(out_dir, exist_ok=True)
    name = f"seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    for line in metrics.summary_lines(rec):
        print(line)
    print(json.dumps({k: rec[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
