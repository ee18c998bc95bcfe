#!/usr/bin/env python3
"""End-to-end benchmark of the ``Pipeline`` jobs (see README.md).

Usage (from the repository root):
    python3 pipebench/run.py --workload etl_batch --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source on first use, runs one
workload in a fresh JVM on ``local[<cores>]`` and prints, as its last line,
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics, or per-layer ones with ``--trace 1``). Everything it
writes stays under ``pipebench/.build``, ``pipebench/.work`` and, for
traced runs, the span file under ``pipebench/.traces``.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_batch", "crawl_drains")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated runner still stops what it started: the compiler, or the
    # JVM (see `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[pipebench] build failed: {e}", file=sys.stderr)
        return 1

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "pipebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores)]
    if a.trace:
        spans = os.path.join(HERE, ".traces", f"{a.workload}-seed{a.seed}.jsonl")
        cmd += ["--spans", spans]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                            start_new_session=True)

    def kill():
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                print(line, end="", flush=True)
        code = proc.wait()
    except KeyboardInterrupt:
        code = -1
    finally:
        timer.cancel()
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        print(f"[pipebench] run failed (exit code {code})", file=sys.stderr)
        return 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
