"""Build file of the benchmark package.

Compiles the engine's main sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in the Spark distribution, into ``.bench_build/perfbench/<stamp>``.
The stamp hashes every source file, so a checkout builds once and later
runs reuse the classes. Run it directly to build without measuring:

    python3 perfbench/build.py
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    return ""


SPARK_JARS = spark_jars()
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def build():
    """Return the classes directory, compiling first if it is missing."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources not found under src/main/scala")
    if not SPARK_JARS:
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    files = sources()
    classes = os.path.join(BUILD_ROOT, stamp(files))
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(BUILD_ROOT, exist_ok=True)
    with open(os.path.join(BUILD_ROOT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(classes, ".complete")):
            return classes
        for old in os.listdir(BUILD_ROOT):
            if not old.startswith("."):
                shutil.rmtree(os.path.join(BUILD_ROOT, old), ignore_errors=True)
        os.makedirs(classes)
        cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.path.join(SPARK_JARS, "*")] + files
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
        rc = subprocess.run(cmd, stdout=sys.stderr).returncode
        if rc != 0:
            shutil.rmtree(classes, ignore_errors=True)
            raise SystemExit(f"compilation failed (exit {rc})")
        open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
