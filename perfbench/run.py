#!/usr/bin/env python3
"""Workload benchmark for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, then runs one workload in one JVM. The last
line of standard output is the result JSON; the line before it carries the
full detail (every end-to-end metric the workload has, host channel,
correctness report, per-layer metrics when traced).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-sources.sha256")
WORKLOADS = ("dashboard", "registry_batch")
DETAIL = "perfbench detail "
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(ROOT, rel)
        if os.path.isfile(p):
            out.append(p)
    for rel in ("src/main", "perfbench/src/main"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, rel))):
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    want = stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    # build output goes to stderr: stdout carries only the result
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(want)


def run(args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # every run starts from empty inputs, tables and checkpoints; only the
    # results of earlier runs stay (the traced run compares with them)
    state = os.path.join(WORK, "run")
    shutil.rmtree(state, ignore_errors=True)
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    java = [shutil.which("java") or "java", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", state, "--results", os.path.join(WORK, "results"),
             "--digests", os.path.join(HERE, "digests")]
    if args.record:
        java += ["--record", args.record]
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        # recording digests walks many seeds and has no run-time limit
        out, _ = proc.communicate(timeout=None if args.record else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    if args.record:
        if proc.returncode != 0:
            fail(f"recording exited with {proc.returncode}")
        return
    detail = [l for l in out.splitlines() if l.startswith(DETAIL)]
    if proc.returncode != 0 or not detail:
        fail(f"benchmark JVM exited with {proc.returncode}")
    print(detail[-1])
    print(json.dumps(result(json.loads(detail[-1][len(DETAIL):]), args.trace)))


def result(detail, trace):
    """The result line: the metrics BENCHMARK.json declares for this mode.
    A declared layer count that the workload's layers never touched is 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    got = detail["per_layer"] if trace else detail["end_to_end"]
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = got.get(m["name"])
        if v is None and not (trace and m["unit"] in ("count", "B", "ratio")):
            fail(f"workload reported no {m['name']}")
        metrics[m["name"]] = {"value": v["value"] if v else 0, "unit": m["unit"]}
    return {"correct": detail["correct"], "attempted": detail["attempted"],
            "failed": detail["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="comma-separated seeds: write reference digests instead of measuring")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft source tree next to the benchmark; run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    build()
    run(args)


if __name__ == "__main__":
    main()
