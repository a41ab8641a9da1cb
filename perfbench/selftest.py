#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-size run of each workload.

Asserts, per workload, that
  - every end-to-end metric of BENCHMARK.json is printed with its unit,
    and a traced run prints every per-layer metric with its unit;
  - no operation failed (failed == 0, failed_frac == 0, correct);
  - two seeds give different inputs with identical operation counts;
and that the runs leave the system temp directory unchanged.

Usage: python3 perfbench/selftest.py   (from the root of a checkout)
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", "--fixed-ops", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def expect_metrics(result, spec, what):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    for m in spec:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{what}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} value"
    assert set(result["metrics"]) == {m["name"] for m in spec}, f"{what}: extra metrics"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for w in [x["name"] for x in bench["workloads"]]:
        runs = [run(w, seed, 0) for seed in (1, 2)]
        for rec, res in runs:
            what = f"{w} seed {rec['seed']}"
            expect_metrics(res, bench["end_to_end"], what)
            assert res["correct"] and res["failed"] == 0, f"{what}: {rec['check']}"
            assert rec["workload_metrics"]["failed_frac"] == 0, what
        (r1, o1), (r2, o2) = runs
        assert r1["inputs_digest"] != r2["inputs_digest"], f"{w}: seeds gave identical inputs"
        assert o1["attempted"] == o2["attempted"], f"{w}: op counts {o1['attempted']} != {o2['attempted']}"
        rec, res = run(w, 1, 1)
        expect_metrics(res, bench["per_layer"], f"{w} traced")
        assert res["correct"] and res["failed"] == 0, f"{w} traced: {rec['check']}"
        assert "tracing_overhead" in rec, f"{w} traced: no overhead record"
        print(f"ok {w}: attempted {o1['attempted']}, not exercised {rec['not_exercised']}")
    after = set(os.listdir(tmp))
    assert after == before, f"temp dir changed: +{sorted(after - before)} -{sorted(before - after)}"
    print("selftest ok")


if __name__ == "__main__":
    main()
