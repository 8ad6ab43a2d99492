"""The percentile rule: the tail is the highest whole percentile that
still has at least ten samples beyond it."""

from __future__ import annotations

import math

import pytest

from perfbench.stats import median, tail


def test_tail_needs_eleven_samples():
    assert tail([float(i) for i in range(10)]) is None
    assert tail([float(i) for i in range(11)]) == (9, 0.0)


@pytest.mark.parametrize("n, q", [(20, 50), (100, 90), (1000, 99), (50, 80)])
def test_tail_leaves_ten_beyond(n, q):
    values = [float(i) for i in range(n)]
    pct, value = tail(values)
    assert pct == q
    assert sum(v > value for v in values) >= 10
    if q < 99:  # one percentile higher would leave fewer than ten
        assert n - math.ceil((q + 1) * n / 100) < 10


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0] * 5
    assert tail(values) == tail(sorted(values))


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])
