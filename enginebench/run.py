#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark and print its result.

    python3 enginebench/run.py --workload serve|churn --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs start the JVM
directly. The last line of standard output is the result JSON:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Each run works in a fresh directory under .bench_build/ and removes it
at exit; traced runs leave their spans in enginebench/traces/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

T0_US = time.time_ns() // 1000
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "run-classpath.txt")
STAMP_FILE = os.path.join(HERE, "target", "build-stamp.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[enginebench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every source and build file the benchmark is built from."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == digest:
                return False
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRunClasspath"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP_FILE, "w") as fh:
        fh.write(digest)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "churn"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"no engine sources at {ENGINE_SRC}: run from a checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")
    # set-up time counts from the process start, less any build
    t0_us = time.time_ns() // 1000 if build() else T0_US

    run_dir = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xmn2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}", "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--t0-us", str(t0_us)]
    if args.trace:
        cmd += ["--trace-out", os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")]
    result = None
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        # the run's own limit counts from t0, so a first run may add its build
        deadline = time.monotonic() + RUN_LIMIT_S - (time.time_ns() // 1000 - t0_us) / 1e6
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.monotonic()))
        for line in out.splitlines():
            if line.startswith("RESULT "):
                result = line[len("RESULT "):]
            elif line.startswith("DETAIL "):
                print(line[len("DETAIL "):], flush=True)
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    print(result, flush=True)


if __name__ == "__main__":
    main()
