"""Build file of the benchmark: compiles the engine (src/main) together
with the benchmark's own Scala sources (perfbench/src) into
.bench_build/classes, using the Scala compiler that ships with Spark.
The Spark jars are read from /opt/spark/jars, or from the directory the
SPARK_JARS environment variable names.

Rebuilds only when a source file changed since the last build. Run it
directly to build without running anything:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.environ.get("SPARK_JARS") or "/opt/spark/jars"
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def _sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(log=sys.stderr):
    """Compile if needed; return the classpath to run with."""
    files = _sources()
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_JARS)")
    stamp = _stamp(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classpath()
    os.makedirs(BUILD, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-cp", os.path.join(SPARK_JARS, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, staging, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
