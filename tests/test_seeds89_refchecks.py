"""Hypothesis reference checks for the round-8/9 statistical cores
(SURVEY.md §5.2 property layer): each factored core runs on adversarial
tiny inputs and must match an independent pure-Python implementation —
ties, gaps, single-day users, weight-zero rows, all-equal prices.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.aggregates import weighted_median_core
from engine.timeseries import EWMA_LAGS, ewma_core, interpolate_core
from engine.windows import running_distinct_core

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (user_id, day, close_c): few users, short ranges so gaps/ties occur
DAY_ROW = st.tuples(
    st.integers(0, 2),
    st.integers(0, 12),
    st.integers(-(10**6), 10**6),
)


def _dedupe_day_rows(rows):
    seen = {}
    for u, d, c in rows:
        seen[(u, d)] = c  # last wins — any deterministic choice is fine
    return [(u, d, c) for (u, d), c in sorted(seen.items())]


@given(rows=st.lists(DAY_ROW, min_size=1, max_size=20))
@SETTINGS
def test_interpolate_core_matches_reference(spark, rows):
    rows = _dedupe_day_rows(rows)
    d = spark.createDataFrame(rows, "user_id long, day long, close_c long")
    got = {
        (r.user_id, r.day): (r.is_observed, r.v_cents)
        for r in interpolate_core(d).collect()
    }
    # reference: per user, linear interp between consecutive observed days
    from collections import defaultdict

    by_user = defaultdict(dict)
    for u, day, c in rows:
        by_user[u][day] = c
    want = {}
    for u, obs in by_user.items():
        days = sorted(obs)
        for i, d0 in enumerate(days):
            want[(u, d0)] = (1, float(obs[d0]))
            if i + 1 < len(days):
                d1 = days[i + 1]
                for g in range(d0 + 1, d1):
                    v = obs[d0] + (obs[d1] - obs[d0]) * (g - d0) / (d1 - d0)
                    import math

                    want[(u, g)] = (0, math.floor(v * 10**4 + 0.5) / 10**4)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])


@given(rows=st.lists(DAY_ROW, min_size=1, max_size=20))
@SETTINGS
def test_ewma_core_matches_reference(spark, rows):
    rows = _dedupe_day_rows(rows)
    d = spark.createDataFrame(rows, "user_id long, day long, close_c long")
    got = {
        (r.user_id, r.day): r.ewma_c for r in ewma_core(d).collect()
    }
    from collections import defaultdict
    import math

    by_user = defaultdict(list)
    for u, day, c in rows:
        by_user[u].append((day, c))
    want = {}
    for u, seq in by_user.items():
        seq.sort()
        for i, (day, _) in enumerate(seq):
            terms = [
                (0.5**k, seq[i - k][1])
                for k in range(EWMA_LAGS)
                if i - k >= 0
            ]
            num = sum(w * x for w, x in terms)
            den = sum(w for w, _ in terms)
            want[(u, day)] = math.floor(num / den * 10**4 + 0.5) / 10**4
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


EVENT_ROW = st.tuples(
    st.integers(0, 2),  # user
    st.integers(0, 30),  # ts offset (seconds) — ties likely
    st.sampled_from(["a", "b", "c"]),
)


@given(rows=st.lists(EVENT_ROW, min_size=1, max_size=25))
@SETTINGS
def test_running_distinct_core_matches_reference(spark, rows):
    data = [
        (i, u, f"2024-01-01 00:00:{s:02d}", t)
        for i, (u, s, t) in enumerate(rows)
    ]
    e = spark.createDataFrame(
        data, "event_id long, user_id long, ts string, event_type string"
    ).selectExpr(
        "event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type"
    )
    got = {
        r.event_id: r.n_types_seen
        for r in running_distinct_core(e).collect()
    }
    from collections import defaultdict

    by_user = defaultdict(list)
    for i, (u, s, t) in enumerate(rows):
        by_user[u].append((s, i, t))
    want = {}
    for u, seq in by_user.items():
        seq.sort()  # (ts, event_id) — the core's unique order
        seen = set()
        for s, i, t in seq:
            seen.add(t)
            want[i] = len(seen)
    assert got == want


WM_ROW = st.tuples(
    st.sampled_from(["A", "R"]),
    st.integers(0, 50),  # price cents — small so ties occur
    st.integers(1, 9),  # weight
)


@given(rows=st.lists(WM_ROW, min_size=1, max_size=25))
@SETTINGS
def test_weighted_median_core_matches_reference(spark, rows):
    r = spark.createDataFrame(
        rows, "l_returnflag string, price_c long, w long"
    )
    got = {
        row.l_returnflag: (row.total_weight, row.wmedian_cents)
        for row in weighted_median_core(r).collect()
    }
    from collections import defaultdict

    by_flag = defaultdict(list)
    for f, p, w in rows:
        by_flag[f].append((p, w))
    for f, pw in by_flag.items():
        pw.sort()
        tw = sum(w for _, w in pw)
        cum = 0
        med = None
        for p, w in pw:
            cum += w
            if 2 * cum >= tw:
                med = p
                break
        assert got[f] == (tw, med), (f, got[f], (tw, med))
