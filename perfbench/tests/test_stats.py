"""The percentile rule: a percentile is reported only when at least
ten samples lie beyond it."""

import stats


def test_p90_needs_ten_samples_beyond():
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(100)), 90) == 89
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9


def test_nearest_rank_values():
    vals = list(range(1, 201))  # 1..200
    assert stats.percentile(vals, 90) == 180
    assert stats.percentile(vals, 95) == 190
    assert stats.percentile(vals, 99) is None  # only 2 beyond


def test_tail_percentile_picks_highest_supported():
    assert stats.tail_percentile(list(range(19))) is None
    assert stats.tail_percentile(list(range(20)))[0] == 50
    assert stats.tail_percentile(list(range(1000)))[0] == 99
    assert stats.tail_percentile(list(range(10000)))[0] == 99.9


def test_summary_reports_count_and_omits_unsupported_p90():
    s = stats.summary([5.0] * 30)
    assert s["n"] == 30 and s["p50"] == 5.0 and s["p90"] is None
    assert stats.summary([])["p50"] is None
