"""Tail-percentile rule and span self-time subtraction.

    python3 -m pytest perfbench/tests
"""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    v, pct, n = stats.tail(list(range(1, 101)))
    assert (v, pct, n) == (90, 90.0, 100)
    assert sum(x > v for x in range(1, 101)) == 10


def test_tail_is_order_free():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 10.0, 11.0]
    v, pct, n = stats.tail(xs)
    assert v == 1.0 and n == 12 and pct == pytest.approx(100 * 2 / 12)
    assert sum(x > v for x in xs) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    assert stats.tail(list(range(11)))[0] == 0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [span(0, -1, "op", 0.0, 10.0),
             span(1, 0, "streaming", 1.0, 6.0),
             span(2, 1, "functions", 2.0, 4.0),
             span(3, 0, "view", 6.0, 9.0)]
    self_s = stats.self_times(spans)
    assert self_s == pytest.approx({"op": 2.0, "streaming": 3.0, "functions": 2.0,
                                    "view": 3.0})
    # self times partition the root span
    assert sum(self_s.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [span(0, -1, "op", 0.0, 10.0),
             span(1, 0, "streaming", 1.0, 5.0),
             span(2, 0, "streaming", 3.0, 7.0),   # overlaps span 1
             span(3, 0, "view", 9.0, 12.0)]       # runs past its parent
    assert stats.self_times(spans)["op"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_sums_spans_of_a_layer():
    spans = [span(0, -1, "op", 0.0, 2.0), span(1, -1, "op", 5.0, 6.5)]
    assert stats.self_times(spans) == pytest.approx({"op": 3.5})


def test_pass_wall_is_sum_of_per_op_medians():
    samples = [{"op": "a", "wall_s": w} for w in (1.0, 3.0, 2.0)] + \
              [{"op": "b", "wall_s": w} for w in (10.0, 20.0)]
    assert stats.per_op_median_sum(samples) == pytest.approx(2.0 + 15.0)
