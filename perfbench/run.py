#!/usr/bin/env python3
"""Closed-loop benchmark of the graft table layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload curation|derive --seed N \
        --seconds S --trace 0|1

The first run builds the library and the harness from source with sbt
(into .bench_build/ and the sbt target directories); later runs reuse the
build while the sources are unchanged. Each run starts one JVM with
local[<cores>/2] and a fixed heap of half of MemTotal, clamped to 1..2 GiB, runs
the workload, and prints the harness's result object as the last line of
standard output. Working files go to .bench_work/ and are removed after
the run, except the span files of traced runs (.bench_work/traces/).
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

WORKLOADS = ("curation", "derive")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JDK17_OPENS = [
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


def source_files(root):
    """Every file the build reads, in a stable order."""
    tops = [os.path.join(root, "build.sbt"),
            os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    files = [p for p in tops if os.path.isfile(p)]
    for d in (os.path.join(root, "src", "main"),
              os.path.join(root, "perfbench", "src", "main")):
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:  # the timeout, or SIGTERM/SIGINT on this script
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build(root, digest):
    """Compiles library and harness; returns the runtime classpath."""
    out_dir = os.path.join(root, ".bench_build")
    cp_file = os.path.join(out_dir, f"classpath-{digest[:16]}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                               "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(out_dir, "build.log")
    with open(log_path, "w") as log:
        try:
            rc, out = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S,
                stdout=subprocess.PIPE, stderr=log)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(out)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed with code {rc} (log: {log_path})")
    # the classpath names sbt's shared class directories, which now hold
    # this digest's classes only
    for n in os.listdir(out_dir):
        if n.startswith("classpath-") and n.endswith(".txt"):
            os.remove(os.path.join(out_dir, n))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def heap_gib():
    """Half of MemTotal, clamped to 1..2 GiB: the runs keep about 0.1 GiB
    live."""
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return min(2, max(1, int(ln.split()[1]) // 2097152))
    except OSError:
        pass
    return 1


def main():
    # a terminated benchmark takes its JVM (or its build) down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"missing {need}: run from the root of a full checkout")
    fixtures = os.path.join(root, "fixtures", "tpcds-sf0.01")
    if not os.path.isfile(os.path.join(fixtures, "store_sales.parquet")):
        fail(f"missing input {fixtures}/store_sales.parquet")
    queries = os.path.join(root, "perfbench", "tpcds")

    digest = source_digest(root)
    classpath = build(root, digest)
    cores = len(os.sched_getaffinity(0))
    heap = heap_gib()
    work = os.path.join(root, ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed, pre-touched heap: no heap growth or first-touch page faults
    # inside the timed operations; the collector is the JVM's default, as
    # the program runs with
    cmd = [java, f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+AlwaysPreTouch",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--cores", str(cores), "--work", work, "--fixtures", fixtures,
            "--queries", queries,
            "--source", digest[:16]]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    t0 = time.time()
    try:
        rc, out = run_bounded(cmd, root, env, RUN_TIMEOUT_S,
                              stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run timed out after {RUN_TIMEOUT_S} s")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if a.trace == "1":
        traces = os.path.join(root, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        for n in os.listdir(work):
            if n.startswith("spans-"):
                shutil.move(os.path.join(work, n), os.path.join(traces, n))
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"the harness exited with code {rc} and printed no result")
    for ln in lines[:-1]:
        print(ln)
    print(f"# wall {time.time() - t0:.1f} s, heap {heap} GiB, cores {cores}")
    print(json.dumps(result))
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
