"""Tiny-size runs of every workload, untraced then traced, through the
same command line the benchmark is driven with. Each run must pass its
correctness gates and end with the one-line JSON result."""

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER
from perfbench.run import END_TO_END, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args, timeout=300):
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, proc.stdout + proc.stderr[-3000:]
    assert res["failed"] == 0 and res["attempted"] >= 1
    return res


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_untraced_then_traced(workload):
    base = ["--workload", workload, "--seed", "7", "--seconds", "1", "--size", "tiny"]
    plain = _result(_run(ROOT, *base, "--trace", "0"))
    assert set(plain["metrics"]) == {n for n, _u in END_TO_END}
    for name, unit in END_TO_END:
        m = plain["metrics"][name]
        assert m["unit"] == unit and math.isfinite(m["value"]) and m["value"] > 0

    proc = _run(ROOT, *base, "--trace", "1")
    traced = _result(proc)
    assert set(traced["metrics"]) == {n for n, _u in PER_LAYER}
    assert traced["metrics"]["action.jobs"]["value"] >= 1
    assert "trace.overhead.cycle_s_pct" in proc.stdout
    spans_file = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed7-tiny-spans.jsonl")
    with open(spans_file) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    assert spans and all(s["t1"] >= s["t0"] for s in spans)
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert any(s.get("costs", {}).get("jobs", 0) > 0 for s in spans)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
