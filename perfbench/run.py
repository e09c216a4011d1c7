#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload serve|live --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Builds the program and the harness from source on first use (see
build.py), then runs the harness in one JVM at local[nproc]. With
--trace 0 the result holds the end-to-end metrics, with --trace 1 the
per-layer metrics. Exits non-zero when an output check fails. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
import build  # noqa: E402

# Program knobs that would change what is measured.
KNOBS = ("GRAFT_BUILD_PARTS", "GRAFT_RESIDENT_FNORM_BYTES", "GRAFT_POSITIONS", "GRAFT_BUILD_TIMING")
WORKLOADS = ("serve", "live")
HEAP = "3g"
# Hard stop for the JVM; a run takes well under this.
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    knobs = [k for k in KNOBS if k in os.environ]
    if knobs:
        print(f"[perfbench] refusing to run with {', '.join(knobs)} set", file=sys.stderr)
        return 2
    try:
        classpath = build.build()
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = build.build_dir() / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = build.build_dir() / "traces" / f"{a.workload}-{a.seed}.jsonl"
    cmd = [build.java(), f"-Xmx{HEAP}", f"-XX:ParallelGCThreads={cpus}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cpus", str(cpus), "--work", str(work),
            "--trace-out", str(trace_out), "--scale", a.scale]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)

    def stop(*_):
        if proc.poll() is None:
            proc.kill()
    timer = threading.Timer(RUN_LIMIT_S, stop)
    timer.start()
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        rc = proc.wait()
    finally:
        timer.cancel()
        stop()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
