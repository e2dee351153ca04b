#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

The first run builds the engine and the harness with sbt (the build in
this directory compiles ../src/main together with perfbench/src/main)
and caches the classpath under .bench_build/, keyed by a hash of every
source file. Each run then starts one JVM, which sets up the workload's
inputs from the seed, measures a closed loop with one client for the
given seconds, checks every result, and prints one JSON line last.

Exit codes: 0 after a complete run, 1 if the build or the run failed,
2 if the checkout lacks the engine's sources.
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("search", "ingest", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    inputs = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, forward_stdout):
    """Run `cmd` in its own process group; kill the group on timeout or
    interruption, and wait until it has ended. Returns (code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    lines = []

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = {s: signal.signal(s, lambda *a: (kill(), sys.exit(1)))
           for s in (signal.SIGTERM, signal.SIGINT)}
    timer = None
    try:
        import threading
        timer = threading.Timer(timeout, kill)
        timer.start()
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if forward_stdout:
                print(line, end="", flush=True)
        code = proc.wait()
    finally:
        if timer:
            timer.cancel()
        kill()
        proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
    return code, lines


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true -Dsbt.override.build.repos=true")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        HERE, env, BUILD_TIMEOUT_S, forward_stdout=False)
    cps = [l for l in out if os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        print("\n".join(out[-40:]), file=sys.stderr)
        fail(1, f"build failed (sbt exit code {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(2, f"no engine sources at {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
                "run from a full checkout")

    cp = build()
    work = os.path.join(BUILD, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work]
    code, out = run_child(cmd, work, dict(os.environ), RUN_TIMEOUT_S,
                          forward_stdout=False)
    # keep the span log of a traced run; drop the generated data
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("\n".join(out[-20:]), file=sys.stderr)
        fail(1, f"run failed (exit code {code})")
    try:
        result = json.loads(out[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(1, "run printed no result line")
    for line in out:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
