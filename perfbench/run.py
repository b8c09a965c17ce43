#!/usr/bin/env python3
"""Extraction-job benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source with sbt on first use
(or when a source file changed), then runs the benchmark on the JVM. The
last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. Build and Spark logs go to standard error.
Everything the run writes stays under perfbench/target, perfbench/project
and perfbench/work.
"""

import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
WORK = BENCH / "work"
STAMP = WORK / "build.stamp"
TIME_LIMIT_S = 170
BUILD_LIMIT_S = 840
WORKLOADS = ("crawl_mix", "pdf_spread")

# Spark on JDK 17 needs these outside spark-submit (as in the library build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compiles with sbt and returns the runtime classpath."""
    digest = source_digest()
    if STAMP.exists():
        stamp_digest, _, classpath = STAMP.read_text().partition("\n")
        if stamp_digest == digest:
            return classpath.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-J-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "export Runtime/fullClasspath"]
    try:
        res = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                             stdin=subprocess.DEVNULL, text=True,
                             timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(res.stdout)
        fail(f"build failed (sbt exit {res.returncode})")
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    classpath = lines[-1]
    STAMP.write_text(digest + "\n" + classpath + "\n")
    return classpath


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no library sources under src/main/scala/graft; run from the root of a checkout")
    if not (BENCH / "build.sbt").is_file():
        fail("perfbench/build.sbt is missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build takes Spark's jars from $SPARK_HOME/jars")
    WORK.mkdir(parents=True, exist_ok=True)

    built = STAMP.exists()
    classpath = build(start + BUILD_LIMIT_S)
    run_start = time.monotonic() if not built else start

    # the JVM's temporary files (e.g. unpacked native libraries) of the last run
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # A fixed heap and a fixed, low threshold for G1's concurrent cycle keep
    # old-generation garbage from piling up between cycles, so the heap
    # left after each collection tracks the data the program still holds.
    cmd = [java, "-Xmx2g", "-XX:+UseG1GC", "-XX:InitiatingHeapOccupancyPercent=20",
           "-XX:-G1UseAdaptiveIHOP", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(1, run_start + TIME_LIMIT_S - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark timed out")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark failed (exit {proc.returncode})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
