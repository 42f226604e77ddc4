#!/usr/bin/env python3
"""Runs one workload of the end-to-end benchmark and prints its result.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload read --seed 1 --seconds 5 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(perfbench/build.sbt depends on the engine's own build) and packs the
compiled classes into jars under .bench_build/; later runs start the JVM
directly from there. The first run also records the classes it loads in a
class-data-sharing archive there, which shortens JVM and Spark start-up for
the runs after it; it does not touch the engine.
All data a run writes stays under .bench_out/ in the checkout. The last
line of standard output is the JSON result; everything else is progress.
"""
import argparse
import fcntl
import hashlib
import os
import signal
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
JSA = os.path.join(BUILD_DIR, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the list the engine's
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH_DIR, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def jar_dirs(cp):
    """Replaces the class directories on `cp` by jars (class-data sharing
    accepts only jars on the classpath)."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD_DIR, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, files in os.walk(entry):
                    dirs.sort()
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def classpath():
    """Compiles on first use (or after a source change); returns the
    runtime classpath of the benchmark."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        log("building engine + benchmark with sbt (first run in this checkout)")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("sbt build failed")
        cp = jar_dirs(lines[-1].strip())
        if os.path.exists(JSA):
            os.remove(JSA)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build done in {time.time() - t0:.0f} s")
        return cp


def launch(cp, args, jvm_flags):
    """Runs perfbench.Main in its own process group with a private work
    directory; returns (exit code, stdout). A run past RUN_TIMEOUT_S is
    killed with everything it started."""
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + [
        "--cores", str(os.cpu_count() or 1), "--work", work, "--out", OUT_DIR]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return 1, ""
    finally:
        subprocess.run(["rm", "-rf", work])
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test switches (perfbench/selftest.py): a tiny corpus, and a
    # deliberately corrupted golden list that the checks must catch
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--corrupt-golden", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("engine sources (build.sbt, src/main/scala/graft) not found "
            "next to perfbench/; run from the root of a source checkout")
        return 2

    cp = classpath()
    args_out = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.toy:
        args_out.append("--toy")
    if args.corrupt_golden:
        args_out.append("--corrupt-golden")
    # the first run after a build records the classes it loads; later runs
    # map them (a run that cannot map the archive starts without it)
    flags = [f"-XX:SharedArchiveFile={JSA}" if os.path.exists(JSA)
             else f"-XX:ArchiveClassesAtExit={JSA}"]
    rc, out = launch(cp, args_out, flags)
    # the JVM itself may print after the result (the archive dump at exit)
    lines = out.rstrip("\n").splitlines()
    at = max((i for i, l in enumerate(lines) if l.startswith('{"correct"')), default=None)
    result = lines.pop(at) if at is not None else None
    for line in lines:
        print(line)
    if result is None:
        log(f"benchmark JVM exited with {rc} and no result")
        return rc or 1
    print(result, flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
