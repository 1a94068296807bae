"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into `.bench_build/classes`
with the Scala compiler that ships in the Spark distribution
(`$SPARK_HOME/jars`), so the benchmark needs neither sbt nor network
access. A content stamp over every compiled file skips the build when
nothing changed. Usage: `python3 perfbench/build.py` from the repo root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
BUILD_TIMEOUT_S = 700


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                             recursive=True))
    if not lib:
        raise BuildError("library sources (src/main/scala) not found")
    if not bench:
        raise BuildError("benchmark sources (perfbench/src) not found")
    return lib + bench


def stamp_of(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return classpath(jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = f"{CLASSES}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    t = time.monotonic()
    try:
        proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac took more than {BUILD_TIMEOUT_S} s")
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {proc.returncode}")
    print(f"[perfbench] compiled in {time.monotonic() - t:.1f} s", file=log, flush=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
