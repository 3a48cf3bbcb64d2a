"""The percentile rule and the ratio math."""

import pytest

from chunkbench.stats import (
    beyond,
    busy_ratio,
    clipped,
    median,
    percentile,
    ratio,
    tail_percentile,
    union_length,
)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert median([5.0]) == 5.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_p90_of_100_samples_leaves_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert beyond(xs, 90) == 10
    assert beyond(xs, 99) == 1


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    assert tail_percentile(200) == 95.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None
    # the rule agrees with the samples it is applied to
    for n in (20, 40, 100, 250, 1000):
        xs = [float(i) for i in range(n)]
        assert beyond(xs, tail_percentile(n)) >= 10


def test_ratio_refuses_zero_base():
    assert ratio(3, 4) == 0.75
    with pytest.raises(ZeroDivisionError):
        ratio(1, 0)


def test_busy_ratio_counts_every_slot():
    # two workers, 10 s wall: 15 s of coderef time is 75% busy
    assert busy_ratio([5.0, 4.0, 6.0], 10.0, 2) == 0.75
    assert busy_ratio([10.0, 10.0], 10.0, 2) == 1.0


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3.0
    with pytest.raises(ValueError):
        union_length([(2, 1)])


def test_clipped_keeps_only_the_window():
    assert clipped([(0, 5), (6, 8), (9, 12)], 2, 10) == [(2, 5), (6, 8), (9, 10)]
    assert clipped([(0, 1)], 2, 3) == []
