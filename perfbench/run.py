#!/usr/bin/env python3
"""Build the engine with the benchmark, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload migrate_chat --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine sources together with the
benchmark (sbt, offline; about a minute); later runs reuse the jar as long
as no source file changed. Work files, logs, traces and per-run records go
to `.bench_build/` at the repository root; a rebuild clears the per-run
records, so a traced run only compares with untraced runs of the same
build. The last stdout line is the result JSON; the exit code is non-zero
when the run failed or its outputs did not check out.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.jar")
RESULTS = os.path.join(BUILD, "perfbench", "results")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 560
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """SHA-256 over every build input: engine and benchmark sources, build files."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def java_cmd(spark_home, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-Xlog:disable", "-XX:+UnlockDiagnosticVMOptions",
           "-XX:GCLockerRetryAllocationCount=64"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'spark-warehouse')}",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-cp", os.pathsep.join([JAR, os.path.join(spark_home, "jars", "*")])]


def build(log_dir):
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    stamp = sources_stamp()
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(RESULTS, ignore_errors=True)
    with open(os.path.join(log_dir, "build.log"), "wb") as log:
        code, _ = run(["sbt", "--batch", "-Dsbt.server.autostart=false", "package"],
                      BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                      stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code}); see {log.name}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main(argv):
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution")
    log_dir = os.path.join(BUILD, "logs")
    tmp = os.path.join(BUILD, "tmp")
    for d in (log_dir, tmp):
        os.makedirs(d, exist_ok=True)
    build(log_dir)

    cmd = java_cmd(spark_home, tmp) + [
        "perfbench.Main", "--work", os.path.join(BUILD, "perfbench"),
        "--expected", os.path.join(HERE, "expected.tsv")] + argv
    name = "-".join(a.lstrip("-") for a in argv if a)[:120]
    with open(os.path.join(log_dir, f"{name}.log"), "wb") as log:
        code, out = run(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                        stdin=subprocess.DEVNULL)
    lines = out.decode("utf-8", "replace").splitlines()
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if not l.startswith("{"):
            print(l)
    if result:
        print(result[-1])
    if code != 0:
        print(f"perfbench: run failed (exit {code}); log: {log.name}", file=sys.stderr)
        sys.exit(code if code > 0 else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
