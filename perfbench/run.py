#!/usr/bin/env python3
"""Benchmark of the crypto medallion pipeline and the event routing stream.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--cpus N]

Builds the benchmark (its own sbt build, which compiles the pipeline's
main sources) when the sources are newer than the last build, runs one
workload in a fresh JVM on local[nproc], and prints the run record and,
as the last line, one JSON object with `correct`, `attempted`, `failed`
and the metrics: the end-to-end metrics, or with --trace 1 the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_daily", "medallion_backfill", "stream_route")
DEADLINE_S = 170
FIRST_DEADLINE_S = 870
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("perfbench", "build.sbt")):
        newest = max(newest, os.path.getmtime(os.path.join(ROOT, f)))
    return newest


def build(deadline):
    """Compiles with sbt and records the runtime classpath."""
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    cp = [l.strip() for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1] + "\n")
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] thread count (default: the CPUs this process may use)")
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("the pipeline's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    started = time.time()
    # The first run in a checkout also builds; it gets the longer allowance.
    deadline = started + (FIRST_DEADLINE_S if not os.path.exists(CLASSPATH_FILE) else DEADLINE_S)
    cp = build(deadline)
    run_start = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cpus}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    results = os.path.join(HERE, ".results", time.strftime("%Y%m%dT%H%M%S") + "-" + tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cpus", str(a.cpus), "--work", work, "--results", results])
    with open(os.path.join(results, "stderr.log"), "w") as err:
        try:
            p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                               stderr=err, text=True, timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded its time; see {results}/stderr.log")
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: build check {run_start - started:.1f} s, run {time.time() - run_start:.1f} s",
          file=sys.stderr)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stdout.write(p.stdout)
        fail(f"run failed (exit {p.returncode}); see {results}/stderr.log")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
