#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt (only when a source
changed since the last build), runs one workload in a fresh JVM on Spark
local[4], and relays the harness's result: the last line of standard output
is one JSON object with the keys correct, attempted, failed and metrics.
Set-up, stores and Spark scratch space live under .bench_work/ and result
files (host stamp, parameters, spans) under .bench_out/, both in the
current directory. `--selftest` runs the harness's own tests instead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.relpath(HERE)
WORKLOADS = ("serve", "maintain", "gates")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, $SPARK_HOME/jars, or the jars
    directory beside a bin directory on PATH (a Spark install's layout)."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.environ.get("SPARK_JARS"), home and os.path.join(home, "jars")]
    candidates += [os.path.join(os.path.dirname(p), "jars")
                   for p in os.environ.get("PATH", "").split(os.pathsep) if p]
    for d in candidates:
        if d and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    sys.exit("perfbench: no Spark jars found (set SPARK_JARS or SPARK_HOME)")


def sources():
    roots = [os.path.join("src", "main", "scala"),
             os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt(*tasks, timeout):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    # sbt's server socket and the JVM's perf data would otherwise land in /tmp
    tmp = os.path.abspath(os.path.join(".bench_build", "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # sbt's own output goes to stderr: stdout carries only the result line
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                          cwd=BENCH, env=env, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=timeout).returncode


def build():
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the repository root (no src/main/scala/graft here)")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    want = digest(sources())
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    log("building engine and harness from source")
    if os.path.exists(stamp):
        os.remove(stamp)
    if sbt("compile", timeout=BUILD_TIMEOUT_S) != 0:
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(want)


def classes():
    found = glob.glob(os.path.join(BENCH, "target", "scala-*", "classes"))
    if not found:
        sys.exit("perfbench: no compiled classes")
    return found[0]


def run(args):
    build()
    # every run stages from nothing: stores, Spark scratch and temp files
    # of an earlier run are deleted first
    work = os.path.abspath(".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes()}{os.pathsep}{os.path.join(spark_jars(), '*')}",
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        sys.exit(f"perfbench: harness printed no result (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result))
    if proc.returncode != 0 or not result["correct"]:
        sys.exit(proc.returncode or 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        build()
        sys.exit(sbt("test", timeout=BUILD_TIMEOUT_S))
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
