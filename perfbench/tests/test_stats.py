"""The percentile rule: report the highest percentile that keeps at least
ten samples beyond it."""

from perfbench import stats


def test_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([7.0], 50) == 7.0
    assert stats.median([3, 1, 2]) == 2


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in range(1, 3000):
        values = [float(i) for i in range(n)]
        p = stats.tail_percentile(n)
        if p is None:
            assert stats.beyond(n, stats.LADDER[0]) < stats.MIN_BEYOND
            continue
        reported = stats.percentile(values, p)
        assert sum(v > reported for v in values) >= stats.MIN_BEYOND
        higher = [q for q in stats.LADDER if q > p]
        if higher:
            assert stats.beyond(n, higher[0]) < stats.MIN_BEYOND


def test_tail_percentile_examples():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
