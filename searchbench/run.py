#!/usr/bin/env python3
"""Search benchmark: one workload, one seed, one command.

    python3 searchbench/run.py --workload query_hot --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source (build.py), then runs one
JVM that generates the seeded corpus and query stream, builds and opens
the index, drives the workload for --seconds, checks the answers and
prints a report line and, last, the result line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Everything the run writes stays under searchbench/ and its scratch
directory is deleted at the end.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (as in the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="query_hot or ingest_mixed")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    cp = build.ensure()
    work = os.path.join(HERE, ".work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only: C2 takes over 30 s of query load to compile the query
    # path's plumbing, and a window inside that climb measures how far the
    # JIT got, not the engine. C1 is steady after about 4 s.
    cmd = [build.java(), "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "searchbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--traces", os.path.join(HERE, ".traces")]
    proc = subprocess.Popen(cmd)
    # a terminated runner takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    code = 1
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("searchbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
