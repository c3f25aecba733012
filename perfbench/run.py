#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload rdw_reports --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark harness (perfbench/src) with
sbt; later runs reuse the build while the sources are unchanged. Each run
uses a fresh scratch directory under perfbench/.work that is deleted at
exit. `--record` rewrites the expected output fingerprints in
perfbench/expected instead of checking against them.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
WORKLOADS = ("rdw_reports", "mart_refresh")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# the packages Spark needs opened on JDK 17+; build.sbt reads the same file
OPENS_FILE = os.path.join(HERE, "jvm-opens.txt")
# the metric names and units a run must print, one list per --trace value
SPEC_FILE = os.path.join(ROOT, "BENCHMARK.json")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             OPENS_FILE]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    # dependencies come from the local caches only; the build never fetches
    env = dict(os.environ, COURSIER_MODE="offline")
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, env=env)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def classpath():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory")
    jars = os.path.join(spark_home, "jars")
    return ":".join([CLASSES] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))


def expected_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json lists for this --trace."""
    try:
        with open(SPEC_FILE) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read {os.path.relpath(SPEC_FILE)}: {e}")
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace == "1" else "end_to_end"]]


def check_result(line, want):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a positive integer")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"malformed metric {name}")
    got = [(name, m["unit"]) for name, m in res["metrics"].items()]
    if sorted(got) != sorted(want):
        raise ValueError(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops the JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}")
    want = expected_metrics(args.trace)
    with open(OPENS_FILE) as fh:
        opens = [l.strip() for l in fh if l.strip()]
    build()
    cp = classpath()

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    proc = None
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # a fixed-size heap and the stop-the-world parallel collector keep
        # collections from overlapping measured requests at random points
        cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in opens:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", args.trace, "--work", work,
                "--expected", os.path.join(HERE, "expected")]
        if args.record:
            cmd.append("--record")
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s")
        with open(log_path) as log:
            lines = log.read().splitlines()
        for l in lines:
            if l.startswith("[graftbench]"):
                print(l, file=sys.stderr)
        if proc.returncode != 0:
            print("\n".join(lines[-40:]), file=sys.stderr)
            fail(f"benchmark JVM exited with code {proc.returncode}")
        last = out.strip().splitlines()[-1] if out.strip() else ""
        try:
            res = check_result(last, want)
        except ValueError as e:
            fail(f"no valid result line: {e}")
        print(json.dumps(res))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
