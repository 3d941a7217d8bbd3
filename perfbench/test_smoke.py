#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs every workload (the two of BENCHMARK.json and the runnable `churn` and
`dedup`) at the tiny size with a fixed seed, untraced and traced, and checks
that the run succeeds, that every end-to-end (untraced) or per-layer (traced)
metric is printed with the unit BENCHMARK.json gives it and a non-zero value,
and that no operation failed.

    python3 perfbench/test_smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=900)
    lines = r.stdout.decode().strip().splitlines()
    assert r.returncode == 0, "%s trace=%d exited %d" % (workload, trace, r.returncode)
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]] + ["churn", "dedup"]
    for w in names:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0, res
            assert res["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, "%s trace=%d: metric/unit mismatch %s" % (
                w, trace, sorted(set(got.items()) ^ set(want.items())))
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
                # a stage too short for any collection reads gc_s = 0
                assert v["value"] != 0 or k.endswith(".gc_s"), "%s trace=%d: %s is 0" % (w, trace, k)
            print("ok %s trace=%d: %d metrics, %d operations" % (w, trace, len(got), res["attempted"]))


if __name__ == "__main__":
    main()
