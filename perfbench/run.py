#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record <name>     # re-record expected predictions

Builds the engine and the harness with sbt on first use (or when a source
changed), then runs one workload in a fresh JVM. The last line of stdout
is the result object.
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

BENCH = "perfbench"
WORK = os.path.join(BENCH, "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORKLOADS = ("snapshot_latency", "corpus_s")
REQUIRED = (
    "src/main/scala/graft/runner/Runner.scala",
    "src/test/resources/gen_corpus/injection_info.csv",
    "src/test/resources/fixtures/gen_corpus_golden.tsv",
)
RUN_LIMIT_S = 175      # one run, build excluded
BUILD_LIMIT_S = 700
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = ["src/main/scala", os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, limit_s, cwd=None, stdout=None):
    """Runs cmd in its own process group; kills the group at the limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                proc.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                pass
        proc.wait()
        die(f"{' '.join(cmd[:2])} exceeded {limit_s}s and was stopped", 3)


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "wb") as log:
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"],
            BUILD_LIMIT_S, cwd=BENCH, stdout=log)
    if code != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        die(f"build failed (log: {log_path})")
    with open(STAMP, "w") as f:
        f.write(digest)


def java_cmd(args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME is not set")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then does not depend on how far
    # the collector happened to grow the heap in this run
    return ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             "--enable-native-access=ALL-UNNAMED"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
               "perfbench.Main", "--work", WORK] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--record", choices=WORKLOADS)
    a = ap.parse_args()
    if a.record is None and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if a.seconds is not None and not 1 <= a.seconds <= 120:
        ap.error("--seconds must be within 1..120")

    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        die(f"run from the repository root; missing {', '.join(missing)}")
    build()

    if a.record:
        code, _ = run_bounded(java_cmd(["--record", a.record]), 3600)
        sys.exit(code)

    t0 = time.monotonic()
    code, out = run_bounded(
        java_cmd(["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace)]),
        RUN_LIMIT_S, stdout=subprocess.PIPE)
    text = out.decode("utf-8", "replace")
    sys.stdout.write(text)
    lines = [l for l in text.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        die(f"no result line (exit {code}, {time.monotonic() - t0:.1f}s)", 1)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
