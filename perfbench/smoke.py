#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py [workload ...]

Run from the root of a checkout. For each workload it runs run.py twice on
one seed, untraced then traced, and asserts that:

- the last stdout line is the result object, with every end-to-end metric
  (untraced) or every per-layer metric (traced) of BENCHMARK.json, each
  with its unit;
- every output check passed and no operation failed;
- both runs produced the same output digest.

It then checks that run.py fails, printing no result, in a directory that
holds only BENCHMARK.json and the benchmark's own files, and prints the
tracing overhead of each workload (traced minus untraced end-to-end value).
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SEED = 7


def run(workload, trace, cwd=None):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=600)


def check_run(spec, workload, trace):
    p = run(workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    info, res = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (res, info["checks"])
    assert all(info["checks"].values()), info["checks"]
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    return info, res


def check_bare():
    """run.py must fail without the program's sources next to it."""
    bare = os.path.join(BENCH, ".cache", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".cache", "target", ".bsp", "__pycache__"))
    try:
        p = run("catalog", 0, cwd=bare)
        assert p.returncode != 0 and p.stdout.strip() == "", (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for wl in workloads:
        info0, res0 = check_run(spec, wl, 0)
        info1, _ = check_run(spec, wl, 1)
        assert info0["digest"] == info1["digest"], (info0["digest"], info1["digest"])
        overhead = {k: round(info1["end_to_end"][k] - v, 4)
                    for k, v in info0["end_to_end"].items()}
        print(f"{wl}: ok, digest {info0['digest'][:12]}, tracing overhead {overhead}")
    check_bare()
    print("bare directory: fails as required")


if __name__ == "__main__":
    main()
