"""The percentile helper agrees with numpy's default (linear) rule."""

import random

import numpy as np
import pytest

from perfbench.stats import median, p50_or_zero, percentile


@pytest.mark.parametrize("n", [1, 2, 3, 10, 101])
@pytest.mark.parametrize("q", [0, 5, 50, 95, 99, 100])
def test_matches_numpy(n, q):
    rng = random.Random(n * 1000 + q)
    xs = [rng.uniform(-5, 5) for _ in range(n)]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)), abs=1e-12)


def test_small_cases():
    assert percentile([3.0], 95) == 3.0
    assert median([1, 2, 3, 4]) == 2.5
    assert percentile([10, 20], 25) == 12.5
    assert percentile([5, 1, 3], 0) == 1
    assert percentile([5, 1, 3], 100) == 5


def test_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)
    assert p50_or_zero([]) == 0.0
