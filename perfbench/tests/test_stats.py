import pytest

from perfbench.stats import beyond, percentile, summary, tail_level


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    # 100 samples: p90 leaves exactly ten beyond, p95 only five
    assert beyond(100, 90) == 10
    assert tail_level(100) == 90
    assert tail_level(99) == 75
    assert tail_level(1000) == 99
    assert tail_level(40) == 75
    assert tail_level(20) == 50
    assert tail_level(19) is None


def test_tail_level_always_leaves_ten_beyond():
    for n in range(1, 3000):
        p = tail_level(n)
        if p is None:
            assert beyond(n, 50) < 10
        else:
            assert beyond(n, p) >= 10


def test_summary_reports_count_median_and_tail():
    s = summary([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_p": 90, "tail": 90.0}
    short = summary([1.0, 2.0, 3.0])
    assert short["n"] == 3 and short["p50"] == 2.0 and short["tail"] is None
