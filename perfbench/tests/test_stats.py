import pytest

from perfbench.stats import (
    MIN_BEYOND,
    highest_supported_percentile,
    interval_union,
    min_samples_for,
    percentile,
    samples_beyond,
)
from perfbench.workloads import MIN_SAMPLES, TAIL_PERCENTILE


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 75) == 75
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n", [1, 10, 11, 20, 30, 40, 45, 100, 101, 1000])
def test_highest_supported_percentile_leaves_ten_beyond(n):
    p = highest_supported_percentile(n)
    if p == 0:
        assert samples_beyond(n, 1) < MIN_BEYOND
        return
    assert samples_beyond(n, p) >= MIN_BEYOND
    assert p == 99 or samples_beyond(n, p + 1) < MIN_BEYOND


def test_known_values_of_the_rule():
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(45) == 77
    assert highest_supported_percentile(10) == 0
    assert min_samples_for(90) == 100
    assert min_samples_for(75) == 40
    assert min_samples_for(66) == 30


def test_reported_tail_is_supported_by_the_minimum_sample():
    assert samples_beyond(MIN_SAMPLES, TAIL_PERCENTILE) >= MIN_BEYOND
    assert highest_supported_percentile(MIN_SAMPLES) >= TAIL_PERCENTILE


def test_interval_union_merges_overlaps_and_ignores_empty():
    assert interval_union([]) == 0
    assert interval_union([(0, 10), (5, 15), (20, 25)]) == 20
    assert interval_union([(0, 10), (2, 3)]) == 10
    assert interval_union([(5, 5), (7, 6)]) == 0
