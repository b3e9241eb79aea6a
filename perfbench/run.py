#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload report|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/ and
generates the dataset there; later runs reuse both while the sources are
unchanged. Each run is a fresh JVM with a private index store, temp and
Spark-local directories under .bench_build/, removed at the end.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics when --trace 0 and the per-layer
metrics when --trace 1. The lines before it list every metric by name and
unit, the workload-specific ones included.

--record writes the warm-up pass's per-query digests to perfbench/ref/
instead of checking against them (report only).
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

WORKLOADS = ("report", "ingest")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
BUILD_DIR = ".bench_build"
HERE = "perfbench"
ENGINE_MAIN = os.path.join("src", "main")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha1()
    roots = [ENGINE_MAIN, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "sbt-tmp"))
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def dataset():
    out = os.path.join(BUILD_DIR, "data")
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"),
                        "--out", out], check=True)
        open(marker, "w").close()
    return out


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(args, cp, data, deadline):
    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("index", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    # C1 only: in a run this short, C2 compiles through the whole timed
    # pass and competes with it for the cores (see README.md)
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.abspath(data), "--work", work, "--out", result]
    ref = os.path.join(HERE, "ref", f"{args.workload}.json")
    if args.record:
        os.makedirs(os.path.dirname(ref), exist_ok=True)
        cmd += ["--record", os.path.abspath(ref)]
    elif args.workload == "report":
        cmd += ["--ref", os.path.abspath(ref)]
    if args.trace:
        traces = os.path.join(BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--spans", os.path.abspath(
            os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))]
    env = dict(os.environ, GRAFT_INDEX_ROOT=os.path.join(work, "index"))
    log_path = os.path.join(BUILD_DIR, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(1, deadline - time.time()))
            except BaseException as e:
                # the time limit, or this process being stopped: the JVM
                # and anything it started go with it
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    fail(f"run exceeded its time limit; log in {log_path}")
                raise
        if proc.returncode != 0 or not os.path.exists(result):
            with open(log_path) as f:
                print("".join(f.readlines()[-40:]), file=sys.stderr)
            fail(f"engine run failed (exit {proc.returncode}); log in {log_path}")
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if args.record and args.workload == "ingest":
        fail("--record applies to report")
    for need in (os.path.join(ENGINE_MAIN, "scala", "graft", "SparkEntry.scala"),
                 os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"run from the root of a checkout of the engine ({need} is missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp = build()
    data = dataset()
    res = run_jvm(args, cp, data, time.time() + RUN_LIMIT_S)

    for section in ("end_to_end", "extra") + (("metrics",) if args.trace else ()):
        for k, m in res[section].items():
            print(f"{section:>10}  {k:<34} {m['value']} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
