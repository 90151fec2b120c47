#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload analytics|daily \
        --seed N --seconds T --trace 0|1

Run it from the root of a checkout. The first run builds the harness
and the engine's main sources with sbt (perfbench/build.sbt); later
runs reuse that build while the sources are unchanged. Every run starts
the JVM in an empty working directory (.bench_work/run), so no store,
index or warehouse carries over from an earlier run. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "2g"
RUN_LIMIT_S = 170
WORKLOADS = ("analytics", "daily")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, log, limit):
    """Runs cmd in its own process group, killing the group at limit or
    when this script is terminated."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compiles the harness with the engine's sources; returns the classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "digest"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BENCH, log, 850)
    if code != 0:
        fail(f"build failed (see {log}):\n{tail(log)}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip().startswith("/") and ".jar" in l]
    if not lines:
        fail(f"no classpath in {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def commit():
    """HEAD of the checkout when it is a git repository itself."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")
    for need in (DATA, os.path.join(BENCH, "fingerprints.json")):
        if not os.path.exists(need):
            fail(f"missing {need}")
    cp = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_out = os.path.join(traces, f"{args.workload}-{args.seed}.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", DATA,
              "--fingerprints", os.path.join(BENCH, "fingerprints.json"),
              "--out", out, "--trace-out", trace_out])
    log = os.path.join(WORK, f"jvm-{args.workload}.log")
    # Spark's scratch space stays inside the fresh working directory, and
    # the engine's tuning variables keep their defaults
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MAX_DRIVER_EDGES"):
        os.environ.pop(var, None)
    code = run_bounded(cmd, run_dir, log, RUN_LIMIT_S)
    if code != 0 or not os.path.exists(out):
        fail(f"run failed (exit {code}, see {log}):\n{tail(log)}")
    with open(out) as f:
        res = json.load(f)

    env = dict(res["env"], commit=commit(), source_digest=source_digest())
    print(json.dumps({"env": env}))
    if args.trace:
        print(json.dumps({"end_to_end_traced": res["end_to_end"]}))
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    for name, m in metrics.items():
        v = m["value"]
        if v is None or not math.isfinite(v):
            fail(f"metric {name} has no value: {m}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
