#!/usr/bin/env python3
"""Reservoir benchmark runner.

Run from the root of a checkout:

    python3 resbench/run.py --workload ingest-merge --seed 1 --seconds 20 --trace 0

The first run builds the engine and the benchmark from source with sbt
(offline) into resbench/target; later runs start the JVM directly. The
benchmark's human-readable report goes to stdout, and its last line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Any failure
exits non-zero without printing a result.
"""
import argparse
import fcntl
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
TARGET = os.path.join(HERE, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"resbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source stamp; returns the classpath."""
    os.makedirs(TARGET, exist_ok=True)
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "build.stamp")
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == stamp:
                    with open(cp_file) as cf:
                        return cf.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
        cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
        print(f"resbench: building ({' '.join(cmd)})", file=sys.stderr)
        rc = run_bounded(cmd, HERE, env, BUILD_LIMIT_S, sys.stderr)
        if rc != 0 or not os.path.exists(cp_file):
            fail(f"build failed (exit {rc})")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        with open(cp_file) as cf:
            return cf.read().strip()


def run_bounded(cmd, cwd, env, limit_s, stdout):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"resbench: {cmd[0]} exceeded {limit_s}s and was stopped", file=sys.stderr)
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    # a terminated run takes its JVM down with it (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        shapes = json.load(fh)["workloads"]
    if args.workload not in shapes:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(shapes)}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full checkout")
    classpath = build()
    started = time.monotonic()

    work = os.path.join(TARGET, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    out = os.path.join(HERE, "out", f"{args.workload}-{args.seed}-t{args.trace}")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    result = os.path.join(out, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(TARGET, "scala-2.13", "classes") + os.pathsep + classpath,
            "resbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--shapes", os.path.join(HERE, "workloads.json"),
            "--work", work, "--result", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    sys.stdout.flush()
    try:
        rc = run_bounded(cmd, ROOT, env, RUN_LIMIT_S - (time.monotonic() - started),
                         sys.stdout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark exited with {rc} and no result")
    with open(result) as fh:
        res = json.load(fh)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result")
    print(json.dumps(res, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
