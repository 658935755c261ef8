"""Golden tests for the time-series operators (timeseries.py)."""

from datetime import datetime

from pyspark.sql import functions as F

from grafink_spark.timeseries import (
    cohort_retention,
    funnel_counts,
    resample_ffill,
    sliding_window_agg,
)


def _ts(s):
    return datetime.fromisoformat(s)


EV_SCHEMA = "event_id long, user_id long, ts timestamp, event_type string, value double"


def test_sliding_windows_membership(spark):
    # one event at 10:20 → windows starting 09:30, 09:45, 10:00, 10:15
    ev = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T10:20:00"), "view", 2.0)], EV_SCHEMA
    )
    out = sliding_window_agg(ev, window="1 hour", slide="15 minutes")
    starts = sorted(
        r.window_start.strftime("%H:%M") for r in out.collect()
    )
    assert starts == ["09:30", "09:45", "10:00", "10:15"]
    row = out.where(F.col("n_events") != 1).collect()
    assert row == []


def test_sliding_windows_overlap_counts(spark):
    # two events 10 min apart share 3 of their 4 windows
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01T10:20:00"), "view", 1.0),
            (2, 1, _ts("2024-01-01T10:31:00"), "view", 1.0),
        ],
        EV_SCHEMA,
    )
    out = sliding_window_agg(ev, window="1 hour", slide="15 minutes")
    counts = {
        r.window_start.strftime("%H:%M"): r.n_events for r in out.collect()
    }
    assert counts == {
        "09:30": 1, "09:45": 2, "10:00": 2, "10:15": 2, "10:30": 1,
    }


def test_resample_ffill_gap_fill(spark):
    # user 1: days 1 and 4 observed → days 2, 3 carry day-1's value;
    # two same-day events → the later ts wins the bucket
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01T08:00:00"), "view", 10.0),
            (2, 1, _ts("2024-01-01T09:00:00"), "view", 11.0),
            (3, 1, _ts("2024-01-04T08:00:00"), "view", 40.0),
            (4, 2, _ts("2024-01-02T08:00:00"), "view", 20.0),
        ],
        EV_SCHEMA,
    )
    out = resample_ffill(ev, key="user_id")
    got = {
        (r.user_id, r.bucket.strftime("%m-%d")): r.value
        for r in out.collect()
    }
    assert got == {
        (1, "01-01"): 11.0,
        (1, "01-02"): 11.0,
        (1, "01-03"): 11.0,
        (1, "01-04"): 40.0,
        (2, "01-02"): 20.0,
    }


def test_funnel_ordering_enforced(spark):
    # user 1 completes in order; user 2's click precedes its view (not
    # counted); user 3 views only
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01T10:00:00"), "view", 0.0),
            (2, 1, _ts("2024-01-01T10:05:00"), "click", 0.0),
            (3, 1, _ts("2024-01-01T10:10:00"), "purchase", 0.0),
            (4, 2, _ts("2024-01-01T09:00:00"), "click", 0.0),
            (5, 2, _ts("2024-01-01T10:00:00"), "view", 0.0),
            (6, 3, _ts("2024-01-01T10:00:00"), "view", 0.0),
        ],
        EV_SCHEMA,
    )
    row = funnel_counts(ev, stages=["view", "click", "purchase"]).collect()[0]
    assert (row.n_view, row.n_click, row.n_purchase) == (3, 1, 1)


def test_cohort_retention_offsets(spark):
    # user 1 first active week of Jan 1 (Mon), returns 2 weeks later;
    # user 2 cohorts one week later, never returns
    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-02T10:00:00"), "view", 0.0),
            (2, 1, _ts("2024-01-16T10:00:00"), "view", 0.0),
            (3, 2, _ts("2024-01-09T10:00:00"), "view", 0.0),
        ],
        EV_SCHEMA,
    )
    out = cohort_retention(ev, period="week")
    got = {
        (r.cohort.strftime("%m-%d"), r.offset): r.n_active
        for r in out.collect()
    }
    assert got == {
        ("01-01", 0): 1,
        ("01-01", 2): 1,
        ("01-08", 0): 1,
    }


def test_rolling_agg_trailing_window(spark):
    from grafink_spark.timeseries import rolling_agg

    ev = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01T10:00:00"), "view", 10.0),
            (2, 1, _ts("2024-01-01T10:30:00"), "view", 20.0),
            (3, 1, _ts("2024-01-01T11:15:00"), "view", 30.0),  # drops ev 1
            (4, 2, _ts("2024-01-01T10:00:00"), "view", 99.0),
        ],
        EV_SCHEMA,
    )
    out = rolling_agg(ev, key="user_id", span_seconds=3600)
    got = {
        (r.user_id, r.ts.strftime("%H:%M")): (r.n_trailing, r.avg_trailing)
        for r in out.collect()
    }
    assert got == {
        (1, "10:00"): (1, 10.0),
        (1, "10:30"): (2, 15.0),
        (1, "11:15"): (2, 25.0),   # 10:00 is outside the 1h window
        (2, "10:00"): (1, 99.0),
    }


def test_session_window_agg_golden(spark):
    from datetime import datetime

    from grafink_spark.timeseries import session_window_agg

    def ts(s):
        return datetime.fromisoformat(s)

    ev = spark.createDataFrame(
        [
            (1, ts("2024-01-01T10:00:00"), 1.0),
            (1, ts("2024-01-01T10:20:00"), 2.0),   # gap 20m < 30m → same
            (1, ts("2024-01-01T10:50:00"), 3.0),   # exactly 30m → windows touch → SAME session
            (1, ts("2024-01-01T11:20:01"), 5.0),   # 30m 1s → NEW
            (2, ts("2024-01-01T09:00:00"), 4.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = session_window_agg(ev, gap="30 minutes").collect()
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.sum_value)
        for r in out
    }
    assert got == {
        (1, "2024-01-01 10:00:00", "2024-01-01 11:20:00", 3, 6.0),
        (1, "2024-01-01 11:20:01", "2024-01-01 11:50:01", 1, 5.0),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:30:00", 1, 4.0),
    }


def test_seasonal_decompose_recovers_weekly_pattern(spark):
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from grafink_spark.timeseries import seasonal_decompose

    # perfectly additive series: base 100 + day-of-week offset
    start = datetime(2024, 1, 1)
    rows = []
    for d in range(35):
        day = start + timedelta(days=d)
        dow = (day.weekday() + 1) % 7  # 0=Sunday
        rows.append((day, 100.0 + 10.0 * dow))
    ev = spark.createDataFrame(rows, "ts timestamp, value double")
    out = seasonal_decompose(ev, period=7, bucket="day").orderBy("bucket").collect()
    # identity holds everywhere
    for r in out:
        assert abs(r.observed - (r.trend + r.seasonal + r.residual)) < 1e-6
    # interior rows (full centered window): flat trend; residual small
    # but not zero — edge buckets' partial-window trend biases the
    # seasonal means slightly (documented behavior)
    interior = out[3:-3]
    assert all(abs(r.trend - 130.0) < 1e-6 for r in interior)
    assert all(abs(r.residual) < 5.0 for r in interior)
    # seasonal spread matches the injected 10-per-dow offsets (±bias)
    seas = sorted({round(r.seasonal, 4) for r in interior})
    assert len(seas) == 7 and abs(max(seas) - min(seas) - 60.0) < 5.0


def test_rolling_median_robust_to_outlier(spark):
    from datetime import datetime, timedelta

    from grafink_spark.timeseries import rolling_median

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, base + timedelta(minutes=i), 10.0) for i in range(5)]
    rows.append((1, base + timedelta(minutes=5), 1000.0))  # outlier
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(rolling_median(ev, "user_id").collect(), key=lambda r: r.ts)
    # after the outlier arrives the trailing MEDIAN stays 10 (the mean
    # would jump to ~175)
    assert out[-1].median_trailing == 10.0
    assert out[-1].n_trailing == 6


def test_linear_attribution_splits_value(spark):
    from datetime import datetime, timedelta

    from grafink_spark.timeseries import linear_attribution

    base = datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            # two clicks inside the hour before the purchase → 50/50
            (1, 1, base - timedelta(minutes=30), "click", 0.0),
            (2, 1, base - timedelta(minutes=10), "click", 0.0),
            (3, 1, base, "purchase", 100.0),
            # a click OUTSIDE the window gets nothing
            (4, 1, base - timedelta(hours=2), "click", 0.0),
            # user 2: single click takes the full value
            (5, 2, base - timedelta(minutes=5), "click", 0.0),
            (6, 2, base, "purchase", 60.0),
        ],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    got = {
        r.event_id: (r.attributed_value, r.n_conversions)
        for r in linear_attribution(ev).collect()
    }
    assert got == {1: (50.0, 1), 2: (50.0, 1), 5: (60.0, 1)}


def test_cusum_detects_mean_shift(spark):
    """A flat series that jumps mid-way must alarm after the shift and
    match the textbook recursion C_t = max(0, C_{t-1} + d_t) exactly."""
    from datetime import datetime

    from grafink_spark.timeseries import cusum_changepoints

    vals = [10.0] * 10 + [25.0] * 5
    rows = [
        ("k", datetime(2024, 1, 1 + i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        r.day.day: (r.cusum, r.is_alarm)
        for r in cusum_changepoints(df).collect()
    }
    # replay the recursion in python
    n = len(vals)
    mu = sum(vals) / n
    var = sum(v * v for v in vals) / n - mu * mu
    sigma = var ** 0.5
    c = 0.0
    expect = {}
    for i, v in enumerate(vals):
        c = max(0.0, c + v - mu - 0.5 * sigma)
        expect[i + 1] = (c, c > 4.0 * sigma)
    for day, (cu, al) in expect.items():
        got_cu, got_al = out[day]
        assert abs(got_cu - cu) < 1e-6, day
        assert got_al == al, day
    assert any(al for _, al in out.values())  # the shift actually alarms
    assert not out[10][1]  # pre-shift stays quiet


def test_ewma_trailing_matches_reference(spark):
    """Windowed EWMA must equal the normalized weighted average
    computed directly; a constant series smooths to itself."""
    from datetime import datetime

    from grafink_spark.timeseries import ewma_trailing

    vals = [10.0, 20.0, 10.0, 40.0, 10.0]
    rows = [("k", datetime(2024, 2, 1 + i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {r.day.day: r.ewma for r in ewma_trailing(df, alpha=0.5, window=3).collect()}
    a = 0.5
    w = [a, a * (1 - a), a * (1 - a) ** 2]  # lag 0, 1, 2
    for t in range(len(vals)):
        lags = [vals[t - j] for j in range(min(t + 1, 3))]
        want = sum(v * w[j] for j, v in enumerate(lags)) / sum(w[: len(lags)])
        assert abs(out[t + 1] - want) < 1e-12, t
    const = spark.createDataFrame(
        [("c", datetime(2024, 3, 1 + i), 7.5) for i in range(4)],
        "event_type string, ts timestamp, value double",
    )
    for r in ewma_trailing(const).collect():
        assert abs(r.ewma - 7.5) < 1e-12


def test_holt_trend_matches_hand_recursion(spark):
    from grafink_spark.timeseries import holt_trend

    xs = [10.0, 14.0, 9.0, 20.0, 18.0]
    df = spark.createDataFrame(
        [("a", datetime(2024, 3, 1 + i), x) for i, x in enumerate(xs)],
        "event_type string, ts timestamp, value double",
    )
    got = {
        r.day.day: (r.level, r.trend, r.fitted)
        for r in holt_trend(df, alpha=0.5, beta=0.5).collect()
    }
    lev, tr = xs[0], 0.0
    expect = {1: (lev, tr, xs[0])}
    for i, x in enumerate(xs[1:], start=2):
        fit = lev + tr
        new_lev = 0.5 * x + 0.5 * fit
        tr = 0.5 * (new_lev - lev) + 0.5 * tr
        lev = new_lev
        expect[i] = (lev, tr, fit)
    assert got.keys() == expect.keys()
    for d in expect:
        for a, b in zip(got[d], expect[d]):
            assert abs(a - b) < 1e-9


def test_holt_trend_tracks_linear_series_exactly_in_the_limit(spark):
    # on a perfectly linear series the fitted one-step-ahead error
    # shrinks toward zero once the trend is learned
    from grafink_spark.timeseries import holt_trend

    df = spark.createDataFrame(
        [("a", datetime(2024, 3, 1 + i), 5.0 + 3.0 * i) for i in range(25)],
        "event_type string, ts timestamp, value double",
    )
    rows = sorted(
        holt_trend(df, alpha=0.5, beta=0.5).collect(), key=lambda r: r.day
    )
    last = rows[-1]
    assert abs(last.fitted - last.x) < 0.05
    assert abs(last.trend - 3.0) < 0.05


def test_frequent_sequences_counts_and_ordering(spark):
    from grafink_spark.timeseries import frequent_sequences

    rows = []
    eid = 0
    for u, seq in [
        (1, ["a", "b", "c", "a", "b", "c"]),
        (2, ["a", "b", "c"]),
        (3, ["x", "y"]),          # shorter than k: contributes nothing
    ]:
        for i, e in enumerate(seq):
            rows.append((eid, u, datetime(2024, 3, 1, 0, i), e))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = [(r.gram, r.n) for r in frequent_sequences(df, k=3, top=10).collect()]
    assert got[0] == ("a>b>c", 3)
    assert ("b>c>a", 1) in got and ("c>a>b", 1) in got
    assert all(g != "x>y" for g, _ in got)
    # deterministic tie-break: equal counts ordered by gram text
    ties = [g for g, n in got if n == 1]
    assert ties == sorted(ties)


def test_frequent_sequences_null_mid_window_excluded(spark):
    """A NULL event anywhere in a window drops the window entirely —
    concat_ws would otherwise count a truncated gram as a full k-gram
    (and diverge from SQL's NULL-propagating || concatenation)."""
    from grafink_spark.timeseries import frequent_sequences

    rows = [
        (0, 1, datetime(2024, 3, 1, 0, 0), "a"),
        (1, 1, datetime(2024, 3, 1, 0, 1), None),   # mid-timeline NULL
        (2, 1, datetime(2024, 3, 1, 0, 2), "c"),
        (3, 1, datetime(2024, 3, 1, 0, 3), "d"),
        (4, 1, datetime(2024, 3, 1, 0, 4), "e"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.gram for r in frequent_sequences(df, k=3, top=10).collect()}
    # only the window clear of the NULL survives; no 'a>c' truncations
    assert got == {"c>d>e"}
