#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a repository checkout. The first run builds the engine
and the benchmark from source (perfbench/build.py). Each run gets a fresh work
directory and java.io.tmpdir under .bench_build/work, deleted when it ends, so
no run can reuse index layouts or `_SUCCESS` markers of an earlier run.

The last line of standard output is one JSON object:
    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1. The exit code is non-zero when an output
check fails or the run could not complete. A full report (per-operation
records, input fingerprint, and with --trace 1 the span tree) is written to
.bench_build/out/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("serve", "curate")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, digest = build.build()
    jars = build.spark_jars()
    work = os.path.abspath(os.path.join(
        build.BUILD_DIR, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    out = os.path.abspath(os.path.join(build.BUILD_DIR, "out"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)

    # A fixed heap and soft references that never outlive a collection keep
    # the reported retained heap a function of what the run holds strongly.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:SoftRefLRUPolicyMSPerMB=0", "-Xss4m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.abspath(classes), os.path.join(jars, "*")]),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--build", digest, "--heap", HEAP]

    proc = subprocess.Popen(cmd, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(143)))
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s, killed", file=sys.stderr)
        kill()
        proc.wait()
        rc = 3
    finally:
        # Spark executor threads live in the JVM; nothing else was started.
        # Wait for the group to be gone before deleting its files.
        kill()
        for _ in range(50):
            try:
                os.killpg(proc.pid, 0)
                time.sleep(0.1)
            except ProcessLookupError:
                break
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
