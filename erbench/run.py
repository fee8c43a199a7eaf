#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 erbench/run.py --workload er_dirty --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the harness from source with sbt (classpath cached under
.bench_build/); every run then starts one JVM for the workload, reads the
metrics it prints, adds the JVM's peak RSS measured from here, and prints
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1)
named in BENCHMARK.json, each with its unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build", "erbench")
SUITE_DATA = os.path.join(BENCH_DIR, "data", "sf0.001")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# the heap the engine's own build forks its runs with
HEAP = os.environ.get("SPARK_DRIVER_MEM", "48g")

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"erbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH_DIR, "project"), os.path.join(BENCH_DIR, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath of engine + harness, building them if needed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("erbench: building engine and harness with sbt", file=sys.stderr)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    rc, _, expired = run_child(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BENCH_DIR, env, BUILD_TIMEOUT_S, log)
    with open(log) as f:
        lines = f.read().strip().splitlines()
    if rc != 0 or expired:
        fail(f"build failed (exit {rc}, timed out: {expired}):\n" + "\n".join(lines[-30:]))
    if not lines or ":" not in lines[-1] or " " in lines[-1].strip():
        fail("sbt did not print a classpath:\n" + "\n".join(lines[-30:]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_child(cmd, cwd, env, timeout, stdout_path):
    """Run a child in its own process group with stdout to a file; kill the
    group on timeout. Always waits for the child and kills any process it
    left behind. Returns (exit code, peak RSS in MB, timed out)."""
    with open(stdout_path, "w") as so:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, stdout=so)
    expired = threading.Event()

    def kill():
        expired.set()
        killpg(p.pid)

    timer = threading.Timer(timeout, kill)
    timer.start()
    # a SIGTERM to this script must not orphan the child's process group
    prev = signal.signal(signal.SIGTERM, lambda *_: (killpg(p.pid), sys.exit(143)))
    try:
        _, status, ru = os.wait4(p.pid, 0)
    finally:
        signal.signal(signal.SIGTERM, prev)
        timer.cancel()
        killpg(p.pid)
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, ru.ru_maxrss / 1024.0, expired.is_set()


def killpg(pid):
    try:
        os.killpg(pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) under the working directory")

    cp = classpath()
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    # Spark's local dir (the engine's default is /dev/shm/spark-graft) and
    # the JVM's tmpdir are kept inside the checkout: a run may write
    # nowhere else.
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "erbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--suite-data", SUITE_DATA])
    t0 = time.time()
    out_path = os.path.join(work, "stdout.txt")
    try:
        rc, peak_mb, expired = run_child(cmd, work, env, RUN_TIMEOUT_S, out_path)
        with open(out_path) as f:
            out = f.read()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if expired:
        fail(f"workload exceeded {RUN_TIMEOUT_S}s")
    if rc != 0:
        fail(f"workload exited with {rc}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("workload printed no result")
    res = json.loads(lines[-1])
    res["metrics"]["peak_rss_mb"] = peak_mb
    print(f"erbench: {a.workload} seed {a.seed} ran {time.time() - t0:.1f}s", file=sys.stderr)

    group = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in group:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
