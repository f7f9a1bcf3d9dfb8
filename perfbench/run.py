#!/usr/bin/env python3
"""Transcript-validation benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--scale F]

Builds the program together with the benchmark's Scala main from source (sbt,
once per source change; the classpath is cached under perfbench/.build), then
runs it in its own JVM. It prints the workload's metrics and, as its last
line, one JSON result object. Exit status is non-zero when an operation
failed its oracle check, the build failed, or the program sources are
missing.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as the program's own
# build.sbt passes them to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            cached, cp = fh.read(), cf.read()
        # the first entry is the compiled classes directory
        if cached == stamp and os.path.isdir(cp.split(os.pathsep)[0]):
            return cp
    log("building the program and the benchmark (sbt compile)")
    # no JVM performance-counter file outside the checkout
    env = dict(os.environ, SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " -XX:-UsePerfData").strip())
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write(proc.stdout[-8000:])
        log("build failed")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_suite", "nightly_append", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a small one)")
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        log(f"program sources not found at {os.path.relpath(PROGRAM_SRC)}")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        sys.exit(2)
    cp = classpath()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(BUILD, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scale", str(args.scale), "--work", work, "--spans", spans])
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_LIMIT_S} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
