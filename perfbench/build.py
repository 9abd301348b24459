#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into `.bench_build/classes-<hash>`,
using the Scala compiler that ships in Spark's `jars` directory (the same
jar set the program's own build compiles against). The hash covers every
source file, so an edited checkout is rebuilt and an unchanged one is not.

Usage: python3 perfbench/build.py      (prints the runtime classpath)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    if not program:
        raise BuildError(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return program + bench


def one_jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not found:
        raise BuildError(f"{prefix} 2.13 jar missing from {jars}")
    return found[-1]


def build():
    """Compile if needed; return the runtime classpath as a list."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        return _build()


def _build():
    jars = spark_jars()
    srcs = sources()
    compiler = [one_jar(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect")]
    h = hashlib.sha256()
    for p in compiler + srcs:
        h.update(os.path.relpath(p, ROOT).encode() if p.startswith(ROOT) else p.encode())
        if p.startswith(ROOT):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    classpath = [out, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, ".done")):
        return classpath

    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    os.remove(argfile)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
