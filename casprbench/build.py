#!/usr/bin/env python3
"""Compile the program and the benchmark harness with scalac.

The benchmark builds the program from source: every Scala file under the
repository's src/main/scala, then the harness under casprbench/src against
it, each in one scalac run against the jars of $SPARK_HOME (which also
carry the Scala 2.13 compiler), into .bench_build/casprbench/{program,bench}. A
stamp of each source set and its command skips a compile when nothing
changed.

    python3 casprbench/build.py      # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "casprbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
# the Spark install the program is built and run against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


class BuildError(Exception):
    pass


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, srcs, classpath, salt=""):
    """scalac `srcs` into BUILD/name unless its stamp matches; returns the
    stamp so dependents rebuild when this one changes."""
    dest = os.path.join(BUILD, name)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    if classpath:
        cmd += ["-cp", classpath]
    h = hashlib.sha256((" ".join(cmd) + salt).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_file = dest + ".stamp"
    if (os.path.isdir(dest) and os.path.exists(stamp_file)
            and open(stamp_file).read() == h.hexdigest()):
        return h.hexdigest()
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(cmd + ["-d", tmp] + srcs, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed on {name} (exit {r.returncode}):\n"
                         + r.stdout[-4000:])
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    return h.hexdigest()


def build():
    """Compile what changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError("no Spark jars: set SPARK_HOME to the Spark install")
    os.makedirs(BUILD, exist_ok=True)
    program = os.path.join(BUILD, "program")
    bench = os.path.join(BUILD, "bench")
    stamp = compile_once("program", scala_files(PROGRAM_SRC), None)
    compile_once("bench", scala_files(BENCH_SRC), program, salt=stamp)
    return os.pathsep.join(
        [bench, program, PROGRAM_RESOURCES, os.path.join(SPARK_JARS, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
