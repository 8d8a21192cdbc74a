#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one benchmark.

Usage (from the repository root):

    python3 ardbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
                            [--size bench|tiny]
    python3 ardbench/run.py --smoke     # all four workloads at tiny size, traced

The engine (the sbt build at the repository root) and the harness (the sbt
build in this directory) are compiled when any of their sources changed
since the last build; the launcher then starts one JVM that runs the
workload and prints the result as the last line of stdout. Build output,
fixtures, Spark scratch space and span files stay under this directory.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
BUILD_TIMEOUT_S = 600
SMOKE_TIMEOUT_S = 240
RUN_TIMEOUT_S = 175
SMOKE = ["--workload", "all", "--size", "tiny", "--seed", "0", "--seconds", "0", "--trace", "1",
         "--setups", "1"]

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[ardbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every input of the two builds, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    return files


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout or interrupt the whole
    group is killed and waited for."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(digest):
    """Compiles the engine and the harness unless this digest is built."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("[ardbench] building engine and harness (sbt)", file=sys.stderr)
    code = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                     BUILD_TIMEOUT_S, cwd=BENCH, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")
    # inputs synthesized by the previous build's code are not reused
    shutil.rmtree(os.path.join(WORK, "fixtures"), ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def jvm(cds_flag, args, timeout=RUN_TIMEOUT_S, **kw):
    """Runs the benchmark main in a JVM; returns its exit code."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap size keeps the peak resident set from depending on when
    # the collector chose to grow the heap
    cmd = [java, cds_flag, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.Main", *args,
            "--root", WORK, "--pins", os.path.join(BENCH, "pins.tsv")]
    sys.stdout.flush()
    return run_group(cmd, timeout, stdin=subprocess.DEVNULL, **kw)


def class_archive(digest):
    """The class-data-sharing archive of this build. It is made by the smoke
    run (all four workloads at tiny size), so every measured run maps the
    same pre-parsed classes instead of loading them from ~300 jars."""
    cds_dir = os.path.join(WORK, "cds")
    os.makedirs(cds_dir, exist_ok=True)
    archive = os.path.join(cds_dir, digest[:16] + ".jsa")
    if not os.path.exists(archive):
        for old in os.listdir(cds_dir):
            os.remove(os.path.join(cds_dir, old))
        print("[ardbench] smoke run of all workloads (tiny size)", file=sys.stderr)
        code = jvm(f"-XX:ArchiveClassesAtExit={archive}.part", SMOKE, SMOKE_TIMEOUT_S,
                   stdout=sys.stderr)
        if code != 0 or not os.path.exists(archive + ".part"):
            fail(f"smoke run failed (exit {code})")
        os.rename(archive + ".part", archive)
    return archive


def main(argv):
    for needed in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"engine sources not found: {os.path.join(ROOT, needed)} is missing")
    if argv == ["--smoke"]:
        argv = SMOKE
    if "--workload" not in argv:
        fail("usage: run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>"
             " | run.py --smoke")
    digest = sources_digest()
    build(digest)
    archive = class_archive(digest)
    sys.exit(jvm(f"-XX:SharedArchiveFile={archive}", argv))


if __name__ == "__main__":
    main(sys.argv[1:])
