#!/usr/bin/env python3
"""Build graft plus the benchmark from source and run one workload.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload api_serve --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --selftest

The library sources (src/main/scala) and the benchmark sources
(graftbench/src) are compiled with the Scala compiler that ships in
Spark's jar directory into graftbench/.build; the build is reused while
the sources hash the same. Each run then starts one JVM at local[nproc]
whose inputs, stores, checkpoints, Spark local dirs and java.io.tmpdir
all live under one temp root in graftbench/.work, removed when the run
ends, failed or not. The last line on stdout is the JSON result.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("api_serve", "corpus_arrival")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Settings a host may export for graft's own mains; the benchmark measures
# the library defaults, so none of them reaches the JVM.
SCRUBBED_ENV = ("SPARK_GRAFT_CONF", "SPARK_GRAFT_AQE", "SPARK_GRAFT_CPUS",
                "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS",
                "_JAVA_OPTIONS")


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on PATH
    that has them."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jar directory found; set SPARK_HOME")


def scala_sources():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile library + benchmark once per source digest; returns the
    classes dir and the digest."""
    files = scala_sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        cp = os.path.join(jars, "*")
        args_file = os.path.join(BUILD, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-cp", cp, "@" + args_file]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
            fail("compile failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"graftbench: compiled {len(files)} sources in "
              f"{time.time() - t0:.1f}s", file=sys.stderr)
    return classes, stamp


def commit(stamp):
    """The git commit of the checkout, or the source digest outside git."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        if out.returncode == 0:
            return out.stdout.decode().strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-" + stamp[:16]


def heap_flag():
    """Quarter of physical memory, clamped to [2g, 4g]: the workloads keep
    tens of MB resident, and the host may be shared."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        gb = max(2, min(4, pages // (4 << 30)))
    except (ValueError, OSError):
        gb = 2
    return f"-Xmx{gb}g"


def run_jvm(classes, stamp, jars, main_args, label):
    nproc = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    root = os.path.join(WORK, f"{label}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if k not in SCRUBBED_ENV}
    cmd = ["java", heap_flag(), "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(root, 'spark-local')}",
            "-Dspark.ui.enabled=false",
            f"-Dgraftbench.commit={commit(stamp)}",
            f"-Dgraftbench.manifest={os.path.join(ROOT, 'BENCHMARK.json')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main", "--root", root, "--nproc", str(nproc)] + main_args
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own process group: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        print("graftbench: run exceeded its time limit", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines() if out else []
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    jars = spark_jars()
    classes, stamp = build(jars)
    if a.selftest:
        rc, lines = run_jvm(classes, stamp, jars, ["--selftest"], "selftest")
    else:
        rc, lines = run_jvm(classes, stamp, jars, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)], a.workload)
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l is not result and l:
            print(l)
    if result is not None:
        print(result)
    if rc != 0:
        fail(f"run failed (exit {rc})")
    if result is None and not a.selftest:
        fail("run printed no result")


if __name__ == "__main__":
    main()
