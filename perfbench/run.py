#!/usr/bin/env python3
"""Run one workload of the graftkv benchmark and print its result.

    python3 perfbench/run.py --workload kv_point --seed 1 --seconds 10 --trace 0

Builds the harness (the engine's sources plus perfbench/src) with sbt
when the sources changed since the last build, then runs it with plain
`java`. The harness's stdout is passed through; its last line is the
result object. Extra options for development and the tests:
--scale (input scale factor, default 0.02), --ops (run exactly N timed
operations instead of --seconds).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-sources.sha256")
WORKLOADS = ["kv_point", "kv_analytic", "kv_ingest"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
DRIVER_HEAP = "2g"
# The engine takes tens of seconds of operations to reach JIT steady
# state at the default compile thresholds; lower thresholds and more
# compiler threads get it there within the warm-up, so a run measures a
# warm program rather than the slope of its warm-up.
JIT_FLAGS = ["-XX:CICompilerCount=4", "-XX:Tier3InvocationThreshold=100",
             "-XX:Tier3CompileThreshold=500", "-XX:Tier4InvocationThreshold=1000",
             "-XX:Tier4CompileThreshold=2000"]

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
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


def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            yield root
        for d, dirs, files in os.walk(root):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark install: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build(env):
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("perfbench: building the harness with sbt", file=sys.stderr)
    env = dict(env, COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
    try:
        res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                             cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                             stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if res.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="0.02")
    ap.add_argument("--ops", default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {REPO}/src/main/scala")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)
    with open(CLASSPATH) as fh:
        cp = os.pathsep.join(line.strip() for line in fh if line.strip())

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{DRIVER_HEAP}", *JIT_FLAGS,
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--ops", a.ops, "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out)
        fail(f"harness exited with {proc.returncode} and no result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
