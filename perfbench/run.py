#!/usr/bin/env python3
"""Run one benchmark workload of palospark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record      # rewrite expected/signatures.tsv

Run from the root of a checkout. The first run builds the program and the
benchmark driver from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Everything the run writes stays under
perfbench/ (build output, scratch space, traces). The last line of standard
output is the result JSON; see perfbench/README.md for the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "signatures.tsv")
WORKLOADS = ("olap_queries", "doris_dml", "stream_lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
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


def sources():
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src", "main", "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; sbt also reports the runtime classpath, kept for the runs."""
    digest = source_digest()
    if (os.path.exists(STAMP) and os.path.exists(CLASSPATH)
            and open(STAMP).read() == digest):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail("build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_cmd(main, args):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xms4g", "-Xmx4g", "-Xmn1g", "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
               "-Dderby.system.home=" + WORK,
               "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
               "-Dspark.local.dir=" + os.path.join(WORK, "local"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", open(CLASSPATH).read(), main] + args)


def run_jvm(cmd):
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "local"))
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and a.workload is None:
        fail("--workload is required")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}: run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"benchmark data not found at {DATA}")
    build()
    nproc = len(os.sched_getaffinity(0))
    if a.record:
        code, out = run_jvm(java_cmd("perfbench.Record", [DATA, EXPECTED, str(nproc)]))
        sys.stdout.write(out)
        sys.exit(code)
    launch_us = time.time_ns() // 1000
    code, out = run_jvm(java_cmd("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA, "--expected", EXPECTED,
        "--out", OUT, "--nproc", str(nproc), "--launch-us", str(launch_us)]))
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
