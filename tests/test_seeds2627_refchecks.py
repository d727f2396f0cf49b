"""Hypothesis reference checks for the round-26/27 window cores:
calendar-streak islands (engine.seeds26.max_streak_core) and the
trailing-ROWS-frame z-score moments (engine.seeds27.rolling_z_core),
each vs a sequential Python scan — adversarial day sets the fixtures
can't produce (single days, equal twin streaks, constant runs,
zero-variance windows, n<3 heads). What these pin is the FRAME
semantics under partitioning: the day−row_number island key and the
ROWS BETWEEN k PRECEDING AND 1 PRECEDING moments must agree with a
single-threaded scan on every shape.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.timeseries import RZ_THRESHOLD, RZ_WINDOW, max_streak_core, rolling_z_core

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    day_sets=st.lists(
        st.sets(st.integers(0, 20), min_size=1, max_size=12),
        min_size=1,
        max_size=3,
    )
)
@SETTINGS
def test_max_streak_core_matches_scan(spark, day_sets):
    rows = [
        (u, d) for u, days in enumerate(day_sets) for d in sorted(days)
    ]
    ud = spark.createDataFrame(rows, "user_id long, day long")
    got = {
        r.user_id: (r.max_streak, r.first_max_streak_start)
        for r in max_streak_core(ud).collect()
    }
    for u, days in enumerate(day_sets):
        best_len, best_start = 0, None
        run_len, run_start, prev = 0, None, None
        for d in sorted(days):
            if prev is not None and d == prev + 1:
                run_len += 1
            else:
                run_len, run_start = 1, d
            prev = d
            if run_len > best_len:
                best_len, best_start = run_len, run_start
        assert got[u] == (best_len, best_start), (u, sorted(days))


@given(
    series=st.lists(
        st.lists(st.integers(-(10**4), 10**4), min_size=1, max_size=14),
        min_size=1,
        max_size=2,
    )
)
@SETTINGS
def test_rolling_z_core_matches_scan(spark, series):
    rows = [
        (f"t{t}", day, v)
        for t, vals in enumerate(series)
        for day, v in enumerate(vals)
    ]
    d = spark.createDataFrame(rows, "event_type string, day long, v long")
    got = {
        (r.event_type, r.day): (r.rolling_z, r.is_anomaly)
        for r in rolling_z_core(d).collect()
    }
    for t, vals in enumerate(series):
        for day, v in enumerate(vals):
            window = vals[max(0, day - RZ_WINDOW) : day]
            n, s1 = len(window), sum(window)
            s2 = sum(x * x for x in window)
            if n >= 3 and n * s2 > s1 * s1:
                z = (v * n - s1) / math.sqrt(
                    (n * s2 - s1 * s1) * n / (n - 1)
                )
                z_r = math.floor(z * 10**4 + 0.5) / 10**4
                want = (z_r, 1 if abs(z_r) > RZ_THRESHOLD else 0)
            else:
                want = (None, 0)
            assert got[(f"t{t}", day)] == want, (t, day, vals)
