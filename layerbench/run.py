#!/usr/bin/env python3
"""Build the engine and the layered benchmark from source, then run one
workload and relay its result.

    python3 layerbench/run.py --workload flow_sweep --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout; `--workload all` runs the three
workloads in turn. The first run builds with sbt (engine
plus harness, about a minute); later runs reuse the build while the
sources are unchanged. The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "layerbench.classpath")
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 840

# Spark 4.x on JDK 17 needs these outside spark-submit (same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    """SHA-1 over the relative names and bytes of every file under paths."""
    h = hashlib.sha1()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def engine_sources():
    return [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main")]


def bench_sources():
    return [os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties"),
            os.path.join(BENCH, "src", "main")]


def commit_id():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    return "tree-" + tree_digest(engine_sources())[:12]


def build():
    """Compile engine and harness; return the runtime classpath."""
    stamp = tree_digest(engine_sources() + bench_sources())
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    print("layerbench: building engine and harness with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            cwd=BENCH, capture_output=True, text=True, timeout=BUILD_BUDGET_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish in {BUILD_BUDGET_S} s", 3)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"build failed (sbt exit {r.returncode})", 3)
    cps = [l for l in r.stdout.splitlines()
           if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


WORKLOADS = ["flow_sweep", "log_tail", "curate"]


def run_one(cp, a, workload):
    """Run one workload in its own JVM; return its stdout lines."""
    started = time.monotonic()
    work = os.path.join(BENCH, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "layerbench.Main",
            "--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--results", os.path.join(BENCH, "results"),
            "--commit", commit_id()]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_BUDGET_S - (time.monotonic() - started))
    except subprocess.TimeoutExpired:
        fail(f"run did not finish in {RUN_BUDGET_S} s", 4)
    lines = r.stdout.rstrip("\n").splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail(f"benchmark JVM exited with {r.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                    help="one workload, or all three in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {BENCH}: run from a full checkout")

    cp = build()
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        print("\n".join(run_one(cp, a, w)), flush=True)


if __name__ == "__main__":
    main()
