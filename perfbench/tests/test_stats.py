"""The percentile rule and the span arithmetic."""

import pytest

from perfbench.harness import quantile, tail_percentile
from perfbench.tracing import self_times_ms, union_ms


def test_quantile_is_nearest_rank():
    xs = list(range(1, 101))
    assert quantile(xs, 50) == 50
    assert quantile(xs, 95) == 95
    assert quantile(xs, 100) == 100
    assert quantile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        quantile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [
        (19, None),  # even the median leaves fewer than 10 beyond it
        (20, 50.0),
        (60, 80.0),
        (200, 95.0),
        (999, 98.0),  # p99 would leave 9 beyond
        (1000, 99.0),
        (2000, 99.5),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    xs = [float(i) for i in range(n)]
    got = tail_percentile(xs)
    if want is None:
        assert got is None
        return
    p, value = got
    assert p == want
    assert sum(1 for x in xs if x > value) >= 10
    assert value == quantile(xs, p)


def test_tail_percentile_ignores_input_order():
    xs = [float(i) for i in range(200)]
    assert tail_percentile(xs[::-1]) == tail_percentile(xs)


def test_union_clips_and_merges():
    assert union_ms([], 0, 10) == 0
    assert union_ms([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_ms([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_ms([(11, 12)], 0, 10) == 0


def _span(i, t0, t1, parent=None):
    return {"id": i, "t0": t0, "t1": t1, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps span 2: counted once
        _span(4, 2.0, 3.0, parent=2),
        _span(5, 8.0, 12.0, parent=1),  # runs past its parent: clipped
    ]
    got = self_times_ms(spans)
    assert got[1] == pytest.approx((10 - 5 - 2) * 1000)
    assert got[2] == pytest.approx((3 - 1) * 1000)
    assert got[3] == pytest.approx(3000)
    assert got[4] == pytest.approx(1000)
    assert got[5] == pytest.approx(4000)
