#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the benchmark driver from source with sbt on first
use (outputs under .bench_build/, reused while the sources are unchanged),
then runs graftbench.Main in one JVM with Spark in local mode on every core
this process may use. The tables are the committed copy in
graftbench/data/sf0.1, checked against their SHA256SUMS before each run.
Every file the run writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170  # the JVM's share of the 180 s a run may take
BUILD_LIMIT_S = 700
HEAP = "-Xmx4g"
ARCHIVE = os.path.join(BUILD, "classes.jsa")

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
    print(f"[graftbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run(cmd, cwd, limit_s, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {limit_s} s")
    return proc.returncode, out


def source_files():
    for base in (PROGRAM, os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def classpath():
    """The runtime classpath, building first if any source changed."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building library and benchmark from source with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     f"-Djava.io.tmpdir={sbt_tmp}", "-J-XX:-UsePerfData",
                     "compile", "export Runtime/fullClasspathAsJars"],
                    HERE, BUILD_LIMIT_S, env=env, stdout=subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"sbt build failed (exit {code})")
    cp = lines[-1].strip()
    # A class-data archive of everything a session start loads: without
    # it, loading ~19k classes makes every run's set-up about twice as long.
    work = os.path.join(BUILD, "archive-run")
    code, _ = run(jvm(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
                  + ["graftbench.Session", "4", work, DATA],
                  BUILD, RUN_LIMIT_S, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail("could not write the class-data archive")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def jvm(cp, work, extra):
    """The JVM command line up to the main class; scratch files go to work."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, HEAP, f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr"] + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def check_data():
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    fail(f"table {name} does not match its SHA256SUMS entry")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    check_data()
    cp = classpath()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "tmp")
    cmd = jvm(cp, work, [f"-XX:SharedArchiveFile={ARCHIVE}"]) + ["graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--data", DATA,
            "--expected", EXPECTED, "--work", work]
    try:
        code, out = run(cmd, work, RUN_LIMIT_S, env=env, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the benchmark JVM's last line is not a result object")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
