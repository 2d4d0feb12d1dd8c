#!/usr/bin/env python3
"""Lifecycle and dedup benchmark of the graft extraction engine.

    python3 perfbench/run.py --workload html_articles --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (perfbench/build.sbt, once per
source state), generates the workload's seeded input once (cached under
perfbench/.work/inputs), then runs the harness JVM, which times, checks and
measures. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics of a
traced run for --trace 1. The line before it is the run's full report.
See perfbench/NOTES.md for the metrics, the workloads and known defects.
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
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("html_articles", "dedup_docs")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_child = None


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. On timeout, or
    when this script is told to stop, the whole group is killed and reaped,
    so no JVM outlives a run. Returns (exit code, captured stdout)."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.communicate()
        raise
    finally:
        code, _child = _child.returncode, None
    return code, out


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(f"no jars directory under Spark install {home}")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles with sbt when the sources changed since the last build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
                             "compile"], BUILD_LIMIT_S, cwd=HERE, env=env,
                            stdout=sys.stderr, stderr=sys.stderr)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not complete: {e}")
    if code != 0:
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def jvm(args, deadline):
    """Runs one harness JVM; returns the JSON object on its last stdout line."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:NewRatio=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")]),
              "perfbench.Main", "--work", WORK] + args)
    left = deadline - time.monotonic()
    if left <= 5:
        fail("out of time before the harness could run", 3)
    try:
        code, out = run_child(cmd, left, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    except subprocess.TimeoutExpired:
        fail("harness ran out of time", 3)
    lines = [x for x in out.splitlines() if x.strip()]
    if code != 0:
        fail(f"harness exited with {code}")
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        fail(f"harness printed no result: {lines[-1][:200]}")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("normal", "tiny"), default="normal",
                   help="tiny: small inputs, for the self-check only")
    a = p.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}")
    build()
    # the time limit applies from here; the first run may spend longer building
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--nproc", str(nproc), "--scale", a.scale]
    jvm(["--mode", "gen"] + common, deadline)
    res = jvm(["--mode", "full"] + common, deadline)
    if res is None:
        fail("harness printed no result")
    print(json.dumps({"report": res.pop("report")}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
