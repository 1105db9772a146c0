#!/usr/bin/env python3
"""Serving benchmark over graft.serve.GraftHttpServer.

Run from the root of a checkout:

    python3 httpbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds the project and the benchmark (httpbench/build.py), runs one
benchmark JVM with a fixed heap, and prints its result object as the
last line of stdout. See httpbench/README.md for the workloads and the
metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("interactive", "ingest_mixed")
HEAP = "3g"
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: a few thousand events, for the benchmark's own test")
    a = p.parse_args()

    start = time.monotonic()
    classes, jars, compiled = build.build()
    # a run must end within RUN_LIMIT_S; a run that compiled gets 900 s
    limit = (895 if compiled else RUN_LIMIT_S) - (time.monotonic() - start)

    work = os.path.abspath(os.path.join(
        build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.abspath(classes)}{os.pathsep}{os.path.join(jars, '*')}",
            "httpbench.ServeBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--trace-out", os.path.abspath(trace_out), "--scale", a.scale]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"httpbench: run exceeded {limit:.0f} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"httpbench: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"httpbench: malformed result {lines[-1]}", file=sys.stderr)
        return 4
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
