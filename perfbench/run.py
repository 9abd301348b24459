#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles the program and
the benchmark (see build.py); every call then runs one workload in one JVM
on local[<cores>] and prints, as its last stdout line, one JSON object with
the keys correct, attempted, failed and metrics. The line before it is the
run's detail record (input stats, set-up and per-pass samples with host
probes, checks). See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
import build  # noqa: E402

WORKLOADS = ("chat_replace", "docs_blackbox", "chat_archive")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def check_result(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(res)}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", build.ROOT]
    try:
        # Spark would place its scratch space in SPARK_LOCAL_DIRS over spark.local.dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env,
                              timeout=JVM_TIMEOUT_S, cwd=build.ROOT)
    except subprocess.TimeoutExpired:
        fail(f"workload run exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(proc.stdout)
        fail(f"workload run exited with {proc.returncode}")
    res = check_result(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
