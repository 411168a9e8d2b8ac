#!/usr/bin/env python3
"""Build the benchmark: compile the engine sources and perfbench/src with scalac.

The benchmark is its own package: it compiles `src/main/scala` (the engine)
together with `perfbench/src` into `.bench_build/classes-<digest>`, where the
digest covers every compiled source file. An existing directory for the same
digest is reused, so only the first run in a checkout pays for the build.

Spark and the Scala compiler come from the Spark distribution that the engine
already builds against: `$SPARK_HOME/jars`, else the jars of the installed
`pyspark` package, else the directory of `spark-submit` on the PATH.

Usage: python3 perfbench/build.py            (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except (ImportError, ValueError):
        pass
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return os.path.realpath(c)
    raise SystemExit("perfbench: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: missing source directory {root} "
                             "(run from the root of a repository checkout)")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD_DIR, f"classes-{digest}")
    if os.path.isfile(os.path.join(classes, "BUILD_OK")):
        return classes, digest
    jars = spark_jars()
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-tmp-", dir=BUILD_DIR)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-release", "17", "-d", tmp, "-cp", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    with open(os.path.join(tmp, "BUILD_OK"), "w") as f:
        f.write(digest + "\n")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
