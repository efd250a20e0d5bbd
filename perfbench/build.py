#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(src/main/scala) and the benchmark harness (perfbench/scala) with the Scala
compiler that ships in Spark's jars directory, into the build directory
($CARGO_TARGET_DIR, default .bench_build, relative to the checkout root).

A content hash of every source is kept next to the classes, so an unchanged
tree is not compiled again. Run it directly to build ahead of a run:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jars directory of the Spark installation on this host."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark installation found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError("library sources src/main/scala not found")
    if not bench:
        raise BuildError("benchmark sources perfbench/scala not found")
    return lib + bench


def digest(files, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Returns the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    want = digest(files, jars)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want:
                return classes
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-cp", cp] + files
    print("building %d sources" % len(files), file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
