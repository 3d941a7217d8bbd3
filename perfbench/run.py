#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload {build,query,churn,dedup} \
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Compiles the engine (src/main/scala) together with the benchmark driver
(perfbench/src) with the Scala compiler that ships in the Spark jars
directory, then runs one JVM that generates the workload's inputs from the
seed, sets up, runs the timed closed loop, checks every answer and prints
one JSON result object as the last line of standard output.  Build output,
per-run scratch space and span traces stay under the build directory
(``$CARGO_TARGET_DIR`` when set, else ``.bench_build``), and the per-run
scratch is deleted afterwards.  Exit code 0 means every answer was right.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars directory (SPARK_HOME, else the one
    that holds the spark-submit found on PATH)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "scala-compiler-*.jar")):
            return os.path.join(h, "jars")
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if not bench:
        fail("benchmark sources (perfbench/src) not found")
    return engine + bench


def compile_classes(out_dir, jars):
    """Compile once per source tree; the stamp is a hash of every source."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = ":".join(glob.glob(os.path.join(jars, n))[0] for n in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(out_dir, "classes-*")):
        if old != classes and not old.endswith(".tmp-%d" % os.getpid()):
            shutil.rmtree(old, ignore_errors=True)
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return classes


def host_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap():
    """Half of MemTotal in whole GiB, clamped to [2, 8] GiB."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return "%dg" % min(8, max(2, g))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "query", "churn", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    jars = spark_jars()
    out_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    classes = compile_classes(out_dir, jars)

    scratch = os.path.join(out_dir, "run-%d-%d" % (os.getpid(), int(time.time() * 1000)))
    os.makedirs(scratch)
    cpus = host_cpus()
    # C1-only JIT: a run lives about a minute, and tiered C2 compilation of
    # Spark's code paths would otherwise compete with the engine for the
    # host's cores for most of it. C1-only shrinks the default code cache to
    # 48 MB, which a traced run can fill (the JIT then stops compiling), so
    # the tiered default size is restored.
    cmd = (["java", "-Xmx" + driver_heap(), "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + scratch,
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classes + ":" + os.path.join(jars, "*"),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--size", a.size, "--cpus", str(cpus),
              "--scratch", scratch, "--trace-out", os.path.join(out_dir, "traces")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=scratch, start_new_session=True)
    # a terminated run.py must not leave the JVM or its scratch behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if not ln.startswith('{"correct"'):
            print(ln)
    if not result:
        fail("benchmark JVM exited with code %d and no result" % proc.returncode)
    print(result[-1])
    sys.stdout.flush()
    sys.exit(0 if '"correct": true' in result[-1] else 1)


if __name__ == "__main__":
    main()
