"""The percentile rule: the highest percentile with >= 10 samples beyond it."""

import pytest

from perfbench.stats import nearest_rank, tail_percentile


def _beyond(samples, value):
    return sum(1 for s in samples if s > value)


@pytest.mark.parametrize("n,p", [(11, 9), (20, 50), (100, 90), (150, 93), (200, 95), (1000, 99)])
def test_highest_percentile_keeps_ten_beyond(n, p):
    samples = [float(i) for i in range(n)]
    got_p, value = tail_percentile(samples)
    assert got_p == p
    assert value == nearest_rank(samples, p)
    assert _beyond(samples, value) >= 10
    # one percentile higher would leave fewer than ten beyond
    assert _beyond(samples, nearest_rank(samples, p + 1)) < 10


def test_too_few_samples_give_no_tail():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_order_of_samples_does_not_matter():
    samples = [float(i) for i in range(100)]
    assert tail_percentile(samples[::-1]) == tail_percentile(samples) == (90, 89.0)


def test_nearest_rank():
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)
