import math

import pytest

from perfbench import stats


@pytest.mark.parametrize("n,p", [(20, 50), (21, 52), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    rank = math.ceil(p * n / 100)
    assert n - rank >= stats.TAIL_BEYOND
    # one percentile higher would leave fewer than ten beyond
    assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_BEYOND


@pytest.mark.parametrize("n", [1, 5, 10])
def test_no_tail_percentile_for_ten_or_fewer(n):
    assert stats.tail_percentile(n) == 0


def test_summarize_reports_percentile_and_count():
    values = [float(v) for v in range(1, 41)]  # 40 samples
    s = stats.summarize(values)
    assert s == {"p50": 20.5, "tail": 30.0, "tail_pct": 75, "n": 40}


def test_summarize_with_too_few_samples_reports_the_maximum():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"p50": 2.0, "tail": 3.0, "tail_pct": 100, "n": 3}


def test_summarize_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.summarize([])
