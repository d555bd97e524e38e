#!/usr/bin/env python3
"""The benchmark's own tests, at the smoke scale.

    python3 perfbench/smoke_test.py          # or: python3 -m pytest perfbench/smoke_test.py

* both workloads and their output checks, in one JVM at a tiny seeded size;
* the traced pass, which must print every per-layer metric BENCHMARK.json names;
* a checkout holding only BENCHMARK.json and perfbench/ must fail without a result.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_workloads_and_checks():
    r = result(["--workload", "all", "--scale", "smoke", "--seed", "7", "--seconds", "1"])
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2, r
    names = {m["name"] for m in spec()["end_to_end"]}
    for w in spec()["workloads"]:
        assert {f"{w['name']}.{n}" for n in names} <= set(r["metrics"]), r["metrics"].keys()


def test_traced_pass():
    r = result(["--workload", "serve_stitch", "--scale", "smoke", "--seed", "7",
                "--seconds", "1", "--trace", "1"])
    assert r["correct"] and r["failed"] == 0, r
    assert {m["name"] for m in spec()["per_layer"]} == set(r["metrics"]), \
        set(r["metrics"]) ^ {m["name"] for m in spec()["per_layer"]}


def test_bare_checkout_fails():
    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline_daily",
                            "--seed", "1", "--seconds", "1"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        assert p.returncode != 0 and '"correct"' not in p.stdout, p.stdout
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
