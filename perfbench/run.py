#!/usr/bin/env python3
"""Benchmark runner for the graft library.

    python3 perfbench/run.py --workload ztf_chain --seed 1 --seconds 20 --trace 0

Builds the library (one directory up) and the harness in this directory with
sbt, once per source state; then starts one JVM that generates the
workload's inputs from the seed (once per seed and generator version),
measures the workload and prints, as its last stdout line, the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under this directory (.build, .data, .work, .out).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ztf_chain", "lightcurve_archive", "curate")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    """Hash of the names and contents of every file under `paths`."""
    h = hashlib.sha1()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    stamp = tree_hash(sources)
    out = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-error", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out", 3)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail("sbt build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def java(cp, work, args, timeout):
    """Run the harness JVM, passing its stdout through; return its exit code.
    Its temporary and Spark scratch files go under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap with a fixed young generation: adaptive
    # resizing otherwise keeps changing GC behaviour for a minute of the run
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    # Spark prefers this variable over spark.local.dir: keep scratch files here
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=HERE, stdin=subprocess.DEVNULL, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness timed out after {timeout} s", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft library sources (../build.sbt, ../src/main/scala/graft) "
             "are not next to the benchmark directory", 2)

    cp = build()
    work = os.path.join(HERE, ".work", str(os.getpid()))
    try:
        # inputs are keyed by seed and by the generator's source, so a change
        # of sizes or formulas regenerates them
        gen = tree_hash([os.path.join(HERE, "src", "main", "scala", "perfbench", "Inputs.scala")])
        data = os.path.join(HERE, ".data", f"{a.workload}-seed{a.seed}-{gen[:10]}")
        rc = java(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", data, "--work", work,
                            "--out", os.path.join(HERE, ".out")], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
