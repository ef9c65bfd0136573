#!/usr/bin/env python3
"""Smoke test for the benchmark: tiny inputs, every workload, both modes.

    python3 perfbench/smoke_test.py        # from the repository root

Asserts that each run prints every metric BENCHMARK.json names, with its
unit, and that a deliberately corrupted answer is counted as a failed
operation. Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny", *extra],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    return res


def expect_metrics(res: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    assert got == want, (sorted(set(want) ^ set(got)), got)
    for n, m in res["metrics"].items():
        assert isinstance(m["value"], float), (n, m)


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    # the comparison itself rejects a wrong answer
    right = {"q": [(1, 2.0), (2, 1.0)]}
    assert not checks.serving_vs_spark(right, right)
    assert checks.serving_vs_spark({"q": [(2, 2.0), (1, 1.0)]}, right)
    assert checks.serving_vs_oracle({"q": [(1, 2.0), (2, 1.5)]}, right)
    for wl in (w["name"] for w in bench["workloads"]):
        res = run(wl, 0)
        expect_metrics(res, bench["end_to_end"])
        assert res["correct"] and res["failed"] == 0, res
        for m in bench["end_to_end"]:
            assert res["metrics"][m["name"]]["value"] > 0, m
        res = run(wl, 1)
        expect_metrics(res, bench["per_layer"])
        assert res["correct"] and res["failed"] == 0, res
        print(f"{wl}: every metric emitted in both modes", flush=True)
    res = run("query_mix", 0, "--corrupt")
    assert not res["correct"] and res["failed"] >= 1, res
    print("a corrupted answer is counted as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
