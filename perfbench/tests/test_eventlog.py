"""The event-log parser and the per-span costs built on it, on a small
hand-written log: one action with two jobs (the second has a skipped
stage 1), and one streaming job that no job group names."""

import os

import pytest

from perfbench.tracing import parse_event_log, span_costs

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.json")


@pytest.fixture(scope="module")
def log():
    with open(FIXTURE) as f:
        return parse_event_log(f)


def test_jobs_carry_stages_and_times(log):
    assert sorted(log["jobs"]) == [0, 1, 2]
    assert log["jobs"][1]["stages"] == [1, 2]
    assert (log["jobs"][0]["submit_ms"], log["jobs"][0]["end_ms"]) == (1000100, 1000300)


def test_stage_task_metrics_are_summed(log):
    s0 = log["stages"][0]
    assert s0["tasks"] == 2
    assert s0["executor_run_ms"] == 100
    assert s0["executor_cpu_ms"] == pytest.approx(80.0)
    assert s0["jvm_gc_ms"] == 2
    s2 = log["stages"][2]
    assert s2["shuffle_read_bytes"] == 1000
    assert s2["shuffle_write_bytes"] == 2048
    assert s2["spill_bytes"] == 1536
    assert 1 not in log["stages"]  # skipped: no task ran


def test_grouped_span_costs(log):
    # job ids as the status tracker lists them for the span's job group
    span = {"group": "perfbench-1", "jobs": [0, 1], "t0": 1000.0, "t1": 1000.6}
    c = span_costs(span, log)
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 2, 3)
    assert c["executor_run_ms"] == 200
    assert c["shuffle_write_bytes"] == 2048
    # 600 ms of span, jobs ran 100-300 and 400-500 ms in: 300 ms on the driver
    assert c["driver_ms"] == pytest.approx(300.0)


def test_ungrouped_span_takes_jobs_by_window(log):
    span = {"group": None, "t0": 1000.65, "t1": 1000.8}
    c = span_costs(span, log)
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 1)
    assert c["driver_ms"] == pytest.approx(100.0)
