#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload dag_serve --seed 0 --seconds 6 --trace 0

It builds the program and the benchmark from source (first run only,
see build.py), runs one workload in a fresh JVM with a fresh work directory
under perfbench/.work, checks the program's outputs, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. The span file of the run is written to perfbench/out.
The exit code is 0 only when every operation and check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dag_serve", "dag_snapshots")
RUN_TIMEOUT_S = 165
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile("BENCHMARK.json"):
        fail("run from the checkout root (no BENCHMARK.json here)")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath = build.build()

    bench = build.BENCH
    work = os.path.join(bench, ".work", f"run-{os.getpid()}")
    out = os.path.join(bench, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(work, "result.json")
    log = os.path.join(out, f"{tag}.log")
    env = dict(os.environ)
    # scratch artifacts and every table root land in this run's fresh
    # directory: no run depends on a warm workspace
    env["SPARK_GRAFT_BUCKET_DIR"] = os.path.join(work, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
              "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace),
              work, result, os.path.join(out, f"{tag}.spans.jsonl")])
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                 env=env, start_new_session=True)
            try:
                code = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if code != 0 or not os.path.exists(result):
            fail(f"JVM exited with {code}; log: {log}")
        with open(result) as fh:
            r = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in r["metrics"]]
    if missing:
        fail(f"metrics not reported: {', '.join(missing)}")
    for e in r["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    line = {
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {m["name"]: {"value": r["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
