#!/usr/bin/env python3
"""Crawl-frontier benchmark launcher.

Usage (from the repository root):

    python3 perfbench/run.py --workload <crawl_deep|frontier_schedule> \
        --seed <n> --seconds <s> --trace <0|1> [--scale tiny] [--plant quota]

Builds the benchmark together with the library sources of this checkout
(perfbench/build.sbt compiles ../src/main/scala) when they changed since the
last build, then runs one JVM with a local Spark session sized to the
machine. Everything it writes stays under the checkout: build output in
perfbench/target and .bench_build/, run state, Spark scratch and traces in
.bench_run/.
The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
LIB = os.path.join(REPO, "src", "main", "scala", "graft")
RUN = os.path.join(REPO, ".bench_run")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench-build.stamp")
RUN_LIMIT_S = 175  # a run (not counting a build) must end within 180 s
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    os.makedirs(RUN, exist_ok=True)
    # sbt's own scratch (server socket, file watcher, native libs) stays in
    # the checkout too; no JVM it starts writes hsperfdata files
    scratch = os.path.join(REPO, ".bench_build", "tmp")
    os.makedirs(scratch, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(REPO, ".bench_build", "sbt-global"),
           "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + scratch,
           "-Djna.tmpdir=" + scratch, "compile"]
    t0 = time.time()
    with open(os.path.join(RUN, "build.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("build timed out", 4)
    if rc != 0:
        with open(os.path.join(RUN, "build.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (exit {rc})", 4)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def spark_home():
    """The Spark distribution the library compiles and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must name a Spark distribution (with a jars/ dir)", 3)
    return home


def heap():
    # half of MemTotal, clamped to 2..8 GiB (as the repository's test runs)
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", default="full")
    ap.add_argument("--plant", default=None)
    args = ap.parse_args()

    if not os.path.isdir(LIB):
        die(f"library sources not found at {os.path.relpath(LIB, os.getcwd())}; "
            "run from a full checkout of the repository", 3)
    digest = source_digest()
    build(digest)

    work = os.path.join(RUN, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + heap(), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "conf", "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([os.path.join(BENCH, "conf"), CLASSES,
                                    os.path.join(spark_home(), "jars", "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--root", work,
            "--scale", args.scale, "--source", digest]
    if args.plant:
        cmd += ["--plant", args.plant]

    # Spark scratch stays in the run dir even if the caller set its own
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"run exceeded {RUN_LIMIT_S}s", 5)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if p.returncode != 0 or not lines:
        die(f"benchmark JVM exited with {p.returncode}", p.returncode or 1)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        die("benchmark JVM printed no result line", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
