#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala` of the repository) together with the benchmark's own
Scala sources (`perfbench/src`) into `perfbench/.build/classes`.

It uses the Scala compiler that ships with the Spark distribution:
`$SPARK_HOME/jars` if SPARK_HOME is set, else the `unmanagedBase`
directory the engine's build.sbt names, the jars that build compiles
against. A stamp of every source file's
content skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the classpath to run with)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")


class BuildError(RuntimeError):
    pass


def spark_jars_dir():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars directory: set SPARK_HOME")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(OUT, "stamp")
    cp = [CLASSES, os.path.join(spark_jars_dir(), "*")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", CLASSES] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
