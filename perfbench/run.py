#!/usr/bin/env python3
"""Benchmark of record for mirabellespark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload tcp_small_frames --seed 1 --seconds 15 --trace 0

Workloads: tcp_small_frames, batch_queries, and, held out of
BENCHMARK.json, tcp_small_frames_4conn and tcp_bulk_frames (see
perfbench/README.md). The first run builds the program and the harness
from source with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The harness JVM prints a context line and
then the result line, which this script repeats as the last line of its
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--selftest` runs only the output-check self-test.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
CLASSPATH = HERE / "target" / "classpath.txt"
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected" / "batch_fingerprints.json"
WORKLOADS = ("tcp_small_frames", "tcp_small_frames_4conn", "tcp_bulk_frames", "batch_queries")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else None


def build():
    stamp_file = BUILD_DIR / "stamp"
    stamp = source_stamp()
    if CLASSPATH.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ)
    env["SPARK_HOME"] = str(spark_home())
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + str(Path.home() / ".sbt" / "repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g")
    print("[perfbench] building program and harness with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=700)
    if r.returncode != 0 or not CLASSPATH.exists():
        fail("build failed")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    stamp_file.write_text(stamp)


def jvm(args, out_dir):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap keeps the peak RSS from following G1's heap
    # resizing and how much of the heap a run happened to touch; a lower
    # JIT threshold lets the warm-up reach compiled code before the window
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-DontCompileHugeMethods",
            "-XX:CompileThresholdScaling=0.3",
            f"-Djava.io.tmpdir={out_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", CLASSPATH.read_text().strip(), "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"harness did not finish within {JVM_TIMEOUT_S} s")
    finally:
        # also on SIGTERM or Ctrl-C: never leave the harness JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run only the output-check self-test")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="write the batch fingerprints instead of checking them")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if not (PROGRAM_SRC / "graft").is_dir():
        fail(f"program sources not found under {PROGRAM_SRC}; run from the root of a checkout")
    home = spark_home()
    if home is None or not (home / "jars").is_dir() or shutil.which("java") is None \
            or shutil.which("sbt") is None:
        fail("needs java, sbt and a Spark installation (SPARK_HOME or spark-submit on PATH)")
    build()

    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    if a.selftest:
        rc, out = jvm(["--selftest"], BUILD_DIR)
        print(out, end="")
        sys.exit(rc)

    out_dir = BUILD_DIR / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    (out_dir / "tmp").mkdir(parents=True)
    try:
        rc, out = jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--out", str(out_dir), "--data", str(DATA),
                       "--expected", str(EXPECTED),
                       "--record", "1" if a.record_fingerprints else "0"], out_dir)
        lines = [l for l in out.splitlines() if l.strip()]
        if rc != 0 or not lines:
            fail(f"harness exited with code {rc}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("harness printed no result line")
        spans = out_dir / "spans.jsonl"
        if spans.exists():
            keep = BUILD_DIR / "spans"
            keep.mkdir(exist_ok=True)
            shutil.copy(spans, keep / f"{a.workload}-{a.seed}.jsonl")
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
