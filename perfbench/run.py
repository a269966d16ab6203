#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload snowplow_backlog --seed 1 --seconds 18 --trace 0

Builds the program and the benchmark runner from source with sbt (once per
source state), runs one workload in a fresh JVM, and passes the runner's
output through: the last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Exits non-zero when the
build fails, when a correctness check fails, or when the run does not end
in time.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
WORKLOADS = ["snowplow_backlog", "corpus_epochs"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"] + [
    opt for pkg in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                    "java.net", "java.nio", "java.util", "java.util.concurrent",
                    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                    "sun.security.action", "sun.util.calendar"]
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        if not os.path.exists(top):
            fail(f"missing {os.path.relpath(top, ROOT)}: run from the root of a full checkout")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr,
                             timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout)
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = classpath()
    work = os.path.join(ROOT, ".bench_build", "work", a.workload)
    cmd = ["java"] + JVM_OPTS + ["-cp", cp, "perfbench.Main",
                                 "--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if lines and lines[-1].startswith("{"):
        print(lines[-1])
    sys.exit(proc.returncode if lines else 1)


if __name__ == "__main__":
    main()
