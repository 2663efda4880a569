#!/usr/bin/env python3
"""Benchmark of the sizing pipeline: builds the program and the benchmark
from source, runs one workload in a fresh JVM and prints one JSON result
line.

Usage (from the repository root):

    python3 perfbench/run.py --workload sizing_csv --seed 1 --seconds 30 --trace 0

The build runs once per source state (sbt, offline); its classpath is kept
in .bench_build/ together with the last run's artifacts per workload
(input profile, JVM log and, for --trace 1, the span file trace.jsonl).
See perfbench/NOTES.md for the workloads and metrics.
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

WORKLOADS = ("sizing_csv", "sizing_rest")
DEADLINE_S = 170  # a run must end within 180 s
BUILD_DEADLINE_S = 800
HEAP = "3g"

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")

# Spark on JDK 17 outside spark-submit needs these opens (the same list as
# the root build's javaOptions).
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


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, d) for d in ("src/main", "dev/scala", "project")]
    roots += [os.path.join(BENCH, d) for d in ("src", "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in fns]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program + benchmark with sbt unless already built from
    the same sources; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources not found next to the benchmark")
    os.makedirs(OUT, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false -Xmx2g -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         BENCH, env, fh, BUILD_DEADLINE_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l
           and os.pathsep in l]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_bounded(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus), "--dir", run_dir, "--result", result])
    # the first run in a checkout also builds; later runs get the budget
    budget = DEADLINE_S if time.time() - t0 < 60 else BUILD_DEADLINE_S
    with open(os.path.join(OUT, "runs", f"{a.workload}-trace{a.trace}.log"),
              "w") as fh:
        rc = run_bounded(cmd, ROOT, dict(os.environ), fh,
                         budget - (time.time() - t0))
    # keep the small artifacts, drop inputs and Spark scratch space
    for name in os.listdir(run_dir):
        path = os.path.join(run_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif name.endswith(".csv"):
            os.remove(path)
    if rc != 0 or not os.path.isfile(result):
        fail(f"benchmark JVM failed (exit {rc}); see "
             f".bench_build/runs/{a.workload}-trace{a.trace}.log")
    with open(result) as f:
        res = json.load(f)
    print(json.dumps(res, separators=(",", ":")))
    sys.exit(0)


if __name__ == "__main__":
    main()
