#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one seed.

    python3 perfbench/run.py --workload <cdc|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft's main
sources together with the harness in perfbench/src (sbt, offline) and
writes the analytics tables; later runs reuse both while the sources are
unchanged. The harness prints its metrics and, as the last stdout line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. A full
record of each run (machine block, per-query or per-batch detail) goes
to perfbench/out/, and traced runs also write their spans there.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
SOURCES = os.path.join(REPO, "src", "main")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "build-stamp")
DATA = os.path.join(BENCH, ".data", "tables-v1")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
EXPECTED = os.path.join(BENCH, "expected", "analytics.tsv")
WORKLOADS = ("cdc", "analytics")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over every file the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [SOURCES, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(digest):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)


def java_cmd(args, heap="3g"):
    spark_jars = os.path.join(spark_home(), "jars", "*")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
            "-cp", CLASSES + os.pathsep + spark_jars, "graftbench.Main"] + args
    return cmd


def run_jvm(args, timeout):
    """Runs the harness in its own process group, killed at `timeout`
    seconds; echoes and returns its stdout lines."""
    p = subprocess.Popen(java_cmd(args), cwd=REPO, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    expired = threading.Event()

    def kill():
        expired.set()
        os.killpg(p.pid, signal.SIGKILL)

    timer = threading.Timer(timeout, kill)
    timer.start()
    lines = []
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("RESULT "):
                print(line, flush=True)
        p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if expired.is_set():
        fail(f"harness exceeded {timeout} s", 3)
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}", 3)
    return lines


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=REPO,
                           capture_output=True, text=True, timeout=10)
        top, sha = (r.stdout.split() + ["", ""])[:2]
        same = r.returncode == 0 and os.path.realpath(top) == os.path.realpath(REPO)
        return sha if same else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="analytics only: rewrite expected/analytics.tsv from this run")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(SOURCES, "scala", "graft")):
        fail(f"no graft sources under {SOURCES}; run from the root of a graft checkout")
    if not os.path.exists(EXPECTED) and not a.record_expected:
        fail(f"missing {EXPECTED}")

    digest = source_digest()
    build(digest)
    if not os.path.exists(os.path.join(DATA, "GENERATED")):
        run_jvm(["--gen-data", DATA], BUILD_TIMEOUT_S)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.environ["GRAFT_BENCH_GIT_SHA"] = git_sha()
    try:
        lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--out", OUT, "--data", DATA, "--expected", EXPECTED,
                         "--record", "1" if a.record_expected else "0",
                         "--source-digest", digest], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    results = [l for l in lines if l.startswith("RESULT ")]
    if not results:
        fail("harness printed no result", 3)
    res = json.loads(results[-1][len("RESULT "):])
    if set(res) != {"correct", "attempted", "failed", "metrics"} or res["attempted"] < 1:
        fail(f"malformed result: {res}", 3)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
