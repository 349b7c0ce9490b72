#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload <build|query|churn|battery> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark and the
engine it depends on from source with sbt and keeps the result under
.bench_build/ until a source file changes. Each run then starts one JVM
with the flags the engine's build.sbt gives `run` (heap fixed at HEAP), in
a fresh scratch directory that also serves as java.io.tmpdir and
spark.local.dir, and removes that directory afterwards.

Output: a detail line (`graftbench {...}`: every end-to-end figure by name
and unit, error rate, failures, host counters) and, last, the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and the spans go to .bench_build/perfbench/traces/.
Exits non-zero without a result line when the build or the run fails.
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

HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")


def die(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the benchmark's and the engine's."""
    roots = [os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(HEAP.encode())
    return h.hexdigest()


def launcher():
    """JVM arguments (flags, then -cp and the classpath), building first
    when the sources changed since the last build."""
    fp = fingerprint()
    stamp = os.path.join(STATE, "fingerprint")
    saved = os.path.join(STATE, "launcher.txt")
    if os.path.exists(saved) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(saved).read().splitlines()
    os.makedirs(STATE, exist_ok=True)
    log_path = os.path.join(STATE, "build.log")
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")  # resolve from the local cache only
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"],
                                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log_path}")
    shutil.copyfile(os.path.join(BENCH, "target", "launcher.txt"), saved)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return open(saved).read().splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not in the "
            "current directory; run from the repository root")
    jvm = launcher()

    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata outside
    # the checkout
    cmd = ["java"] + jvm + [
        "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
        "--data", os.path.join(BENCH, "data"),
        "--launch-ms", str(int(time.time() * 1000))]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    err_path = os.path.join(STATE, f"{a.workload}.stderr.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            die(f"run exceeded {RUN_TIMEOUT_S} s; stderr in {err_path}")
    shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = (p.returncode == 0 and isinstance(result, dict) and
          set(result) == {"correct", "attempted", "failed", "metrics"})
    if not ok:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        sys.stderr.write(open(err_path).read()[-4000:])
        die(f"run failed (exit {p.returncode}); stderr in {err_path}")
    print("\n".join(lines[:-1]))
    print(lines[-1])


if __name__ == "__main__":
    main()
