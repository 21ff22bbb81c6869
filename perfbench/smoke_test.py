#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs through the same code.

For every workload run.py knows (the three of BENCHMARK.json and
heavy-sf1) it runs run.py with --smoke, untraced and traced, and
asserts that the result line is well formed, that the run was correct, and
that every metric BENCHMARK.json names is printed with its unit. It then
expects a wrong digest for one query and asserts that the run counts it as
a failed operation.

    python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import SUITE, WORKLOADS  # noqa: E402


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1", "--smoke", *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert r.returncode == 0, f"run.py {args} exited {r.returncode}:\n{r.stderr[-3000:]}"
    line = r.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, line
    return out, r.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out, err = bench("--workload", w, "--trace", str(trace))
            assert out["correct"] and out["failed"] == 0, f"{w} trace {trace}: {out}\n{err[-3000:]}"
            assert out["attempted"] >= 1
            for m in spec[group]:
                got = out["metrics"].get(m["name"])
                assert got is not None, f"{w} trace {trace}: no metric {m['name']}"
                assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), f"{m['name']}: {got}"
            print(f"ok {w} trace {trace}: {len(out['metrics'])} metrics, "
                  f"{out['attempted']} operations")
    out, _ = bench("--workload", "suite-sf0.1", "--trace", "0",
                   "--wrong-digest", SUITE[0])
    assert not out["correct"] and out["failed"] == 1, f"wrong digest not counted: {out}"
    print("ok wrong digest counted as a failed operation")


if __name__ == "__main__":
    main()
