import stats


def test_p90_needs_ten_samples_beyond_it():
    assert stats.supported_percentile(list(range(99)), 90) is None
    assert stats.supported_percentile(list(range(100)), 90) == 89
    assert stats.samples_beyond(100, 90) == 10


def test_summary_reports_median_and_count():
    s = stats.summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    assert "p90" not in stats.summary([float(i) for i in range(99)])
    assert stats.summary([float(i) for i in range(100)])["p90"] == 89.0

