#!/usr/bin/env python3
"""Repo benchmark: build the program and the benchmark from source, run
one workload, print one JSON result line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The build (plain scalac over
src/main/scala plus perfbench/src, against the Spark jars, then one
etl_batch run that records a class-data archive) goes to .bench_build/
and is reused while the sources are unchanged. The last
stdout line is {"correct", "attempted", "failed", "metrics"}; Spark's
log goes to stderr.

Extra flags, never needed for a normal run:
  --corrupt etl|serve|mix   perturb one result before its check, to see
                            the check report a failed operation
  --record-expected         rewrite perfbench/expected_mix.json from this
                            run's mix results
  --selftest                run the benchmark's own unit checks
"""

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
CDS = os.path.join(BUILD, "classes.jsa")
EXPECTED = os.path.join(BENCH, "expected_mix.json")
WORKLOADS = ("etl_batch", "recommend_serve")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repo's build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars, from SPARK_HOME or the install behind spark-submit,
    listed one by one (a class-data archive accepts only plain jar
    entries on the class path, no wildcard)."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("spark-sql_") for j in jars):
        fail("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala; run from a full checkout")
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    return prog + bench


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(CDS) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(spark_jars()), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp, "@" + argfile]
    print("perfbench: building program + benchmark", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    # Record the classes a whole run loads into a class-data archive,
    # once per build; every run maps it instead of loading and verifying
    # ~20k classes from jars. Measured on 4 cores, that takes 10-17 s off
    # each run, without which a full benchmark's runs would not fit their
    # time budget. A recording that fails fails the build, so every run
    # starts the same way.
    if os.path.exists(CDS):
        os.remove(CDS)
    print("perfbench: recording class-data archive", file=sys.stderr)
    rec = java_cmd("graft.bench.Main",
                   main_args("etl_batch", 0, 1, 0, os.path.join(BUILD, "work", "cds")),
                   f"-XX:ArchiveClassesAtExit={CDS}")
    try:
        r = subprocess.run(rec, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=sys.stderr,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("class-data recording timed out")
    if r.returncode != 0 or not os.path.exists(CDS):
        fail("class-data recording failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def main_args(workload, seed, seconds, trace, work, expected_flag="--expected"):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, expected_flag, EXPECTED]


def java_cmd(main, args, cds=f"-XX:SharedArchiveFile={CDS}"):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx4g", *opens, cds,
             f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={os.path.join(BUILD, 'derby')}",
             f"-Dderby.stream.error.file={os.path.join(BUILD, 'derby.log')}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-cp", os.pathsep.join([JAR] + spark_jars()), main] + args)


def run_java(main, args):
    """Run a JVM main, pass its stderr through, return its stdout lines."""
    proc = subprocess.Popen(java_cmd(main, args), cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} timed out after {RUN_TIMEOUT_S}s")
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"{main} exited with {proc.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("etl", "serve", "mix"))
    ap.add_argument("--record-expected", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    os.makedirs(BUILD, exist_ok=True)
    build()
    if a.selftest:
        for line in run_java("graft.bench.SelfTest", []):
            print(line)
        return
    args = main_args(a.workload, a.seed, a.seconds, a.trace,
                     os.path.join(BUILD, "work", a.workload),
                     "--record-expected" if a.record_expected else "--expected")
    if a.corrupt:
        args += ["--corrupt", a.corrupt]
    lines = run_java("graft.bench.Main", args)
    result = [line for line in lines if line.startswith('{"correct"')]
    if not result:
        fail("no result line")
    for line in lines:
        if line is not result[-1]:
            print(line, file=sys.stderr)
    print(result[-1])


if __name__ == "__main__":
    main()
