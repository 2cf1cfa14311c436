#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):
    python3 graftbench/run.py --workload etl_hot --seed 1 --seconds 5 --trace 0

Builds the program and the harness from source on first use (sbt, offline)
and, in a JVM of its own, the snapshots and artifacts refresh_cycle reads;
then runs the harness in one fresh JVM at
local[<cores>] over the test tables in graftbench/data/sf0.001. Everything a
run writes goes under .graftbench_out/ in the repository root; the last
stdout line is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data", "sf0.001")
OUT = os.path.join(REPO, ".graftbench_out")
WORKLOADS = ("etl_hot", "refresh_cycle")
# build + cache + run stay under 900 s, the first run's limit
BUILD_TIMEOUT_S = 420
CACHE_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170
KEEP_CACHES = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# the child process running now; a signal to this script ends it first
CHILD = None


def stop_child(signum=None, frame=None):
    """Kill the running child's process group and wait for it; when called
    as a signal handler, exit afterwards."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in a process group of its own; returns (exit code, stdout),
    or None when it ran past `timeout` (then the group is killed)."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             text=True, start_new_session=True, **kw)
    try:
        stdout, _ = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        return None
    finally:
        if CHILD.poll() is None:
            stop_child()
    return CHILD.returncode, stdout


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input to the build and the base artifacts, so an edited
    tree rebuilds both."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main", "scala"), DATA]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".parquet"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt (unless `stamp` matches the last build) and return
    the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx2g") + f" -Djava.io.tmpdir={tmp}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        res = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=log)
    if res is None:
        die("build timed out", 4)
    code, stdout = res
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or "[" in lines[-1]:
        with open(log_path) as fh:
            sys.stderr.write(stdout[-4000:] + fh.read()[-4000:])
        die("build failed", 4)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def java(cp, out, args, timeout):
    """Run graftbench.Main in a fresh JVM with its working files under `out`;
    returns (exit code, stdout), or None when it ran past `timeout`."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["GRAFT_BENCHMARK_DIR"] = os.path.join(REPO, "fixtures", "benchmarks")
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--out", out, "--data", DATA] + args
    with open(os.path.join(out, "java.log"), "w") as log:
        res = run_child(cmd, timeout, cwd=out, env=env, stderr=log)
    for d in ("work", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    return res


def base_cache(cp, stamp):
    """The inputs refresh_cycle reads (graftbench.Run.buildCache) for this
    source tree, built on first use in a JVM of its own so that no timed run
    starts with a warm JIT. The
    directory name carries the source digest, so a changed tree never reuses
    another tree's artifacts; the newest KEEP_CACHES trees are kept."""
    caches = os.path.join(OUT, "cache")
    cache = os.path.join(caches, stamp[:16])
    if not os.path.exists(os.path.join(cache, "READY")):
        log_dir = os.path.join(OUT, f"build-cache-{stamp[:16]}")
        os.makedirs(log_dir, exist_ok=True)
        res = java(cp, log_dir, ["--build-cache", cache], CACHE_TIMEOUT_S)
        if res is None or res[0] != 0 or not os.path.exists(os.path.join(cache, "READY")):
            with open(os.path.join(log_dir, "java.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            die(f"building the base artifacts failed; log in {log_dir}", 4)
    os.utime(cache)
    old = sorted((os.path.join(caches, d) for d in os.listdir(caches)),
                 key=os.path.getmtime, reverse=True)[KEEP_CACHES:]
    for d in old:
        shutil.rmtree(d, ignore_errors=True)
    return cache


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        die(f"program sources not found under {PROGRAM_SRC}")
    stamp = source_stamp()
    cp = build(stamp)
    cache = base_cache(cp, stamp)
    out = os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}")
    os.makedirs(out)
    res = java(cp, out, ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                         str(a.seconds), "--trace", str(a.trace), "--expected",
                         os.path.join(HERE, "expected"), "--cache", cache], RUN_TIMEOUT_S)
    log_path = os.path.join(out, "java.log")
    if res is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}", 3)
    code, stdout = res
    results = [l for l in stdout.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if code != 0 or not results:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"harness exited with {code}; log in {log_path}", 1)
    print(results[-1][len("GRAFTBENCH_RESULT "):])


if __name__ == "__main__":
    main()
