"""Smoke run of the benchmark at the tiny tier (a few minutes on 4 cores).

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced. Every metric named in
BENCHMARK.json must be printed with its unit, and no op may fail. A run
with a planted wrong answer must fail its checks, and a checkout without
the engine must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tier", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None, proc.stderr


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_printed_and_no_op_fails(workload, trace):
    code, out, err = run(workload, trace)
    assert code == 0, err[-2000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, err[-2000:]  # ops_failed_ratio 0
    assert out["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in want)
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_planted_wrong_answer_is_caught():
    for workload in ("sql_analytics", "llm_curation"):
        code, out, _ = run(workload, 0, "--plant-wrong")
        assert code == 0
        assert out["correct"] is False and out["failed"] >= 1


def test_without_engine_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out, _ = run("sql_analytics", 0, cwd=str(tmp_path))
    assert code != 0 and out is None
