"""Spreads, interval unions and the /proc probes."""

import statistics

import pytest

import stats


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_union_length_merges_overlaps_and_nesting():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 2), (1, 3)]) == 3
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.union_length([(5, 6), (0, 1)]) == 2


def test_steal_pct_and_host_probes():
    assert stats.steal_pct((100, 10), (300, 30)) == pytest.approx(10.0)
    assert stats.steal_pct((100, 10), (100, 10)) == 0.0
    total, steal = stats.cpu_times()
    assert total > 0 and steal >= 0
    assert stats.calibrate(rounds=1) > 0


def test_peak_rss_covers_this_process():
    rss = stats.PeakRss()
    rss.sample()
    assert rss.mb() > 1


def test_comparable_flags_steal():
    assert stats.comparable({"steal_pct": 0.4})
    assert not stats.comparable({"steal_pct": 4.5})
