#!/usr/bin/env python3
"""Quick smoke test of the benchmark itself. From the checkout root:

    python3 perfbench/smoke_test.py

1. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   must exit non-zero without printing a result.
2. Each workload runs once at fixture seed 0 (so the golden digests are
   checked) with a one-second consumer window and tracing on, and must print
   a correct result carrying every per-layer metric; dag_snapshots then is
   a single refresh drop over the first one.
3. One untraced dag_serve run must carry every end-to-end metric, each a
   positive number.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def result(p):
    lines = p.stdout.strip().splitlines()
    assert lines, f"no output; stderr:\n{p.stderr[-2000:]}"
    r = json.loads(lines[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    return r


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"), prefix="bare-")
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", "out"))
        p = run(bare, "dag_serve", 0)
        assert p.returncode != 0 and not p.stdout.strip(), \
            f"bare directory must fail without a result: rc={p.returncode} {p.stdout!r}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: fails without the program sources")

    for w in spec["workloads"]:
        p = run(ROOT, w["name"], 1)
        r = result(p)
        assert p.returncode == 0 and r["correct"] and r["failed"] == 0, (r, p.stderr[-2000:])
        missing = {m["name"] for m in spec["per_layer"]} - set(r["metrics"])
        assert not missing, missing
        print(f"ok: {w['name']} traced, {r['attempted']} operations and checks")

    p = run(ROOT, "dag_serve", 0)
    r = result(p)
    assert p.returncode == 0 and r["correct"], (r, p.stderr[-2000:])
    for m in spec["end_to_end"]:
        v = r["metrics"][m["name"]]
        assert v["unit"] == m["unit"] and v["value"] > 0, (m, v)
    print("ok: dag_serve untraced, every end-to-end metric positive")


if __name__ == "__main__":
    main()
