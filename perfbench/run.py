#!/usr/bin/env python3
"""Engine benchmark entry point.

    python3 perfbench/run.py --workload serve_reads --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The script compiles the engine sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) with the Scala compiler shipped in the Spark jar
directory, caches the classes under `.bench_build/` keyed by a hash of
every source file, and runs one workload in a fresh JVM. All inputs,
stores and Spark scratch space live in a run-scoped directory under
`.bench_build/runs/`, deleted when the run ends. The last line of standard
output is the result JSON; see perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")
WORKLOADS = ("serve_reads", "change_stream", "dedup_batch")
# A run must exit within 180 s; the JVM gets this long before it is killed.
JVM_DEADLINE_S = 165
BUILD_DEADLINE_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH that
    ships a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    fail("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from the repository root")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def build(jars):
    """Compile once per distinct source tree; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, main_args, expect_result=True):
    runs = os.path.join(build_dir(), "runs")
    run_dir = os.path.join(runs, f"r{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed, pre-touched heap: all of it is resident from the start, so
        # the resident set above it is native memory (see perfbench.Memory)
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--run-dir", run_dir,
        "--trace-dir", os.path.join(build_dir(), "traces"),
    ] + main_args
    # few malloc arenas, so native memory does not depend on how many
    # threads happened to allocate at once
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            text=True, start_new_session=True)
    # a hung JVM is killed (with every thread it started) at the deadline
    watchdog = threading.Timer(JVM_DEADLINE_S, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(lines[-1], flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    if expect_result:
        if not lines or not lines[-1].startswith("{"):
            fail("benchmark JVM printed no result")
        print(lines[-1], flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    jars = spark_jars()
    classes = build(jars)
    if a.self_test:
        run_jvm(classes, jars, ["--self-test"], expect_result=False)
    else:
        run_jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace)])


if __name__ == "__main__":
    main()
