#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload build|incremental|edit|serve|dedup \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark on first
use (perfbench/build.py), runs the workload in one JVM and prints that run's
JSON record as the last line of stdout. Exits non-zero, printing no record,
when the program cannot be built or the run cannot be measured.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# A run's wall clock limit; a run normally takes well under a minute.
RUN_TIMEOUT_S = 170
# The same module openings the repository's sbt build gives its JVMs.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "4g"
# C1 only: a run is too short for C2 to settle. Under C2 the ops after a
# warm-up still spent up to 15 s of CPU each on background compiles and their
# times drifted by a third; under C1 they repeat within a few percent.
JIT = "-XX:TieredStopAtLevel=1"
# Parallel collector: with G1 the CPU time of one dedup pass swung from 11 s
# to 19 s between passes of one run, as its concurrent threads came and went;
# with this collector it repeats within a few percent.
GC = "-XX:+UseParallelGC"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["build", "incremental", "edit", "serve", "dedup"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=["full", "tiny"],
                    help="tiny: small inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt", default="0", choices=["0", "1"],
                    help="1: damage one output before its check (negative tests)")
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.ensure_built(root)
    bench = os.path.join(root, build.BUILD_DIR)
    tmp = os.path.join(bench, "tmp")
    os.makedirs(tmp, exist_ok=True)
    work = os.path.join(bench, "work", f"{a.workload}-{os.getpid()}")
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ([build.java(), f"-Xmx{HEAP}", JIT, GC, "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.stamp={build.stamp(classes)}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work,
              "--fixtures", os.path.join(bench, "fixtures"), "--scale", a.scale, "--corrupt", a.corrupt])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s")
    lines = out.decode("utf-8", "replace").splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {a.workload} failed (exit {proc.returncode})")
    record = json.loads(lines[-1])
    assert set(record) == {"correct", "attempted", "failed", "metrics"}, record.keys()
    print(json.dumps(record))


if __name__ == "__main__":
    main()
