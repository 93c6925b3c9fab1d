#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 e2ebench/run.py --workload join_tile --seed 1 --seconds 15 --trace 0

Run it from the repository root. It builds the engine from this checkout's
sources (see build.py), generates the workload's input from the seed, runs
the closed loop on local[4] and prints two JSON lines: details (input
digests, tail percentile, fail_frac) and, last, the result
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Everything it writes
goes under .bench_build/ in the checkout. The run's raw record and JVM log
are kept as .bench_build/last/<workload>-<trace>.json and .log; its inputs
and Spark scratch space are removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

CORES = 4
HEAP = "3g"
JAVA_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_command(root, classes, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens
            + ["-cp", classes + ":" + os.path.join(build.spark_jars(root), "*"),
               "e2ebench.Main"] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 3

    work = os.path.join(build.build_dir(root), "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    last = os.path.join(build.build_dir(root), "last")
    os.makedirs(last, exist_ok=True)
    record = os.path.join(last, f"{a.workload}-{a.trace}.json")
    log = os.path.join(last, f"{a.workload}-{a.trace}.log")
    if os.path.exists(record):
        os.remove(record)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = java_command(root, classes, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", record, "--cores", str(CORES)])
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(record):
            with open(log) as lf:
                lines = [x for x in lf if not x.lstrip().startswith(("at ", "..."))]
                sys.stderr.write("".join(lines)[-6000:])
            print(f"benchmark process failed: {rc}", file=sys.stderr)
            return 1
        with open(record) as f:
            rec = json.load(f)
        result, details = metrics.summarize(rec, bool(a.trace))
        print(json.dumps(details))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"[e2ebench] finished in {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
