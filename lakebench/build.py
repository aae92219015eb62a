#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into `lakebench/out/classes`.

The compiler is the Scala 2.13 compiler that ships in Spark's `jars/`
directory (found through SPARK_HOME), so the build needs no dependency
resolution and writes nothing outside the repository. A stamp holding a
hash of every source file makes an unchanged tree skip the build.

Usage: python3 lakebench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "scala")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"graft sources not found at {MAIN_SRC}")
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(MAIN_RES, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return files, res


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def read_stamp():
    if not os.path.exists(STAMP):
        return None
    with open(STAMP) as f:
        return f.read()


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(quiet=False):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files, res = sources()
    stamp = digest(files + res)
    cp = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    if read_stamp() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for p in res:
        dst = os.path.join(CLASSES, os.path.relpath(p, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(STAMP, "w") as f:
        f.write(stamp)
    if not quiet:
        print(f"built {len(files)} sources into {CLASSES}", file=sys.stderr)
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
