#!/usr/bin/env python3
"""Smoke test of the OME-Zarr benchmark.

Runs every workload at tiny size, untraced and traced, and asserts that
each run passes all its output checks and prints exactly the metrics
BENCHMARK.json names, each with its unit. Then asserts that the benchmark
refuses to run, without printing a result, when the engine's sources are
not next to it.

    python3 omezarr_bench/smoke_test.py

Run it from the root of a checkout. Exit code 0 means every assertion held.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def result_of(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    assert lines, "no output"
    return json.loads(lines[-1])


def check_run(spec, workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    where = f"{workload} trace={trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"
    res = result_of(p.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {set(res)}"
    assert res["correct"] is True and res["failed"] == 0, f"{where}: checks failed: {p.stdout[-2000:]}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, f"{where}: attempted"
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    assert set(got) == {m["name"] for m in want}, \
        f"{where}: metric names differ: {sorted(set(got) ^ {m['name'] for m in want})}"
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']} != {m['unit']}"
        assert isinstance(v["value"], (int, float)), f"{where}: {m['name']} value"
        if not trace:
            assert v["value"] > 0, f"{where}: {m['name']} is {v['value']}"
    print(f"ok  {where}: {len(got)} metrics, {res['attempted']} ops checked")


def check_refuses_without_engine():
    """A directory holding only BENCHMARK.json and the benchmark's files."""
    alone = os.path.join(BENCH, "work", "standalone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(alone, os.path.basename(BENCH)),
                    ignore=shutil.ignore_patterns("target", "work", "results"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(os.path.basename(BENCH), "run.py"),
             "--workload", "tiles", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=alone, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(os.path.join(BENCH, "work"), ignore_errors=True)
    assert p.returncode != 0, "ran without the engine's sources"
    assert not p.stdout.strip(), f"printed a result without the engine: {p.stdout[-500:]}"
    print("ok  refuses to run without the engine's sources")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == ["pyramid", "tiles", "plate"]
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    check_refuses_without_engine()


if __name__ == "__main__":
    main()
