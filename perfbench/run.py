#!/usr/bin/env python3
"""Ingest->queryable benchmark: one run of one workload.

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the benchmark (its own
sbt project in this directory, compiled with the engine's sources from the
checkout) and caches the classpath under perfbench/target; later runs start
the JVM directly. The last stdout line is the run's JSON result; the JVM's
log and the run's details go to perfbench/out. See perfbench/README.md.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.sources.sha256")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the engine's own build passes to its forked JVMs).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(code, msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def sources_digest():
    """Hash of everything the build compiles, to rebuild only on change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(3, f"engine sources not found under {os.path.join(ROOT, 'src')}")
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == digest:
                with open(CLASSPATH) as c:
                    return c.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(3, f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-6000:])
        fail(3, "build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def declared():
    """Metric names and units BENCHMARK.json declares, by trace mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {"0": {m["name"]: m["unit"] for m in b["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in b["per_layer"]}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    want = declared()[a.trace]
    cp = build()

    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(HERE, "out")
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    log_path = os.path.join(
        out, f"{a.workload}-seed{a.seed}-{'traced' if a.trace == '1' else 'untraced'}.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Every scratch file (JVM, Spark block manager and shuffle, Hadoop) stays
    # inside the run's work dir, which is removed afterwards; no perf-data
    # file goes to /tmp. The heap is fixed and pre-touched: growing into
    # fresh pages mid-run makes GC and page faults vary from run to run.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--cpus", str(cpus),
           "--work", work, "--out", out]
    try:
        with open(log_path, "w") as log:
            # own process group, so a timeout can stop the JVM and its children
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(4, f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(5, f"run failed with exit code {proc.returncode}; log: {log_path}")

    lines = [l for l in stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(6, f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))} "
                f"{[k for k in got if k in want and got[k] != want[k]]}")
    if any(v["value"] is None for v in result["metrics"].values()):
        fail(6, "a metric has no finite value")
    with open(log_path) as f:
        for line in f:
            if line.startswith("FAILED: "):
                sys.stderr.write(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
