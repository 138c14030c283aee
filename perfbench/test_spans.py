"""Unit tests for the benchmark's percentile and self-time helpers.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Recorder, Span, geomean, median, percentile, self_times  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 90) is None  # 9.9 samples beyond
    assert percentile(list(range(100)), 90) is not None  # exactly 10
    assert percentile(list(range(49)), 80) is None
    assert percentile(list(range(50)), 80) is not None
    assert percentile([], 50) is None
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)


def test_percentile_interpolates_like_numpy_linear():
    import numpy as np

    values = [float((i * 37) % 101) for i in range(200)]
    for q in (50, 80, 90, 95):
        assert percentile(values, q) == pytest.approx(np.percentile(values, q))


def test_percentile_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        percentile([1.0] * 100, 100)
    with pytest.raises(ValueError):
        percentile([1.0] * 100, 0)


def test_median():
    assert median([]) is None
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_geomean():
    assert geomean([]) is None
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0] * 7) == pytest.approx(5.0)
    # moving one sample between two modes moves it a little, not a mode
    fast, slow = [30.0] * 50, [55.0] * 50
    a, b = geomean(fast[:-1] + slow + [55.0]), geomean(fast + slow)
    assert a / b == pytest.approx((55.0 / 30.0) ** (1 / 100))


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        Span(1, "root", 0.0, 10.0, None),
        Span(2, "a", 1.0, 4.0, 1),
        Span(3, "b", 3.0, 6.0, 1),  # overlaps a: union 1..6 = 5 s
        Span(4, "c", 9.0, 12.0, 1),  # runs past the parent: 1 s counted
        Span(5, "leaf", 1.5, 2.0, 2),
    ]
    got = self_times(spans)
    assert got["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["a"] == pytest.approx(3.0 - 0.5)
    assert got["b"] == pytest.approx(3.0)
    assert got["c"] == pytest.approx(3.0)
    assert got["leaf"] == pytest.approx(0.5)


def test_self_time_sums_spans_of_one_name():
    spans = [Span(1, "x", 0.0, 1.0, None), Span(2, "x", 2.0, 4.0, None)]
    assert self_times(spans) == {"x": pytest.approx(3.0)}


def test_recorder_nests_spans_and_counts_results():
    rec = Recorder(True)

    class Box:
        @staticmethod
        def work(n):
            return list(range(n))

    rec.wrap(Box, "work", "box.work", lambda a, k: str(a[0]), len)
    outer = rec.begin("outer")
    assert Box.work(3) == [0, 1, 2]
    rec.end(outer)
    inner, top = rec.named("box.work")[0], rec.named("outer")[0]
    assert inner.parent == top.sid and inner.tag == "3"
    assert inner.counts == {"n": 3}
    assert top.start <= inner.start <= inner.end <= top.end


def test_disabled_recorder_leaves_functions_alone():
    rec = Recorder(False)

    class Box:
        @staticmethod
        def work():
            return 1

    original = Box.work
    rec.wrap(Box, "work", "box.work")
    assert Box.work is original
    assert rec.begin("x") is None and rec.spans == []
