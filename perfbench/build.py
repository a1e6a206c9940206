#!/usr/bin/env python3
"""Compiles the program (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes with the Scala compiler that ships in Spark's jar
directory. Skips the compile when no source changed since the last one.

Run from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")


def spark_jars():
    """The classpath entry for the jars of the Spark installation at
    $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars under $SPARK_HOME/jars")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(classes):
    """The source digest the classes were compiled from."""
    with open(os.path.join(classes, ".stamp")) as fh:
        return fh.read()


def ensure_built(root="."):
    """Returns the classes directory, compiling first if needed. Exits with
    an error when the program's sources are not there."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src", "main", "scala")) for f in files):
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the repository root")
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    classes = os.path.join(root, CLASSES)
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure_built("."))
