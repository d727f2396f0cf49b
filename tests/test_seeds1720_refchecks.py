"""Hypothesis reference checks for the round-16/17 cores: the integer
quantile-normalization remap, the common-denominator KS statistic, and
the DAU/WAU contribution fan-out — each against a pure-Python
reference on adversarial tiny inputs (singleton groups, all-ties,
single-day users, one-sided samples).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.curation import ks_core
from engine.timeseries import WAU_DAYS, dau_wau_core
from engine.windows import quantile_normalize_core

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


QN_ROW = st.tuples(
    st.sampled_from(["a", "b"]),
    st.integers(0, 20),  # cents — small so ties are common
)


@given(rows=st.lists(QN_ROW, min_size=1, max_size=18))
@SETTINGS
def test_quantile_normalize_matches_reference(spark, rows):
    data = [(i, t, c) for i, (t, c) in enumerate(rows)]
    c = spark.createDataFrame(
        data, "event_id long, event_type string, cents long"
    )
    got = {
        r.event_id: r.normalized_cents
        for r in quantile_normalize_core(c).collect()
    }
    # reference: within-type rank by (cents, event_id); global sorted
    # values by the same order; position round-half-up.
    all_sorted = sorted((c, i) for i, (_, c) in enumerate(rows))
    ng = len(all_sorted)
    from collections import defaultdict

    by_type = defaultdict(list)
    for i, (t, cv) in enumerate(rows):
        by_type[t].append((cv, i))
    want = {}
    for t, vals in by_type.items():
        vals.sort()
        nt = len(vals)
        for rk0, (_, i) in enumerate(vals):
            if nt == 1:
                pos = 0
            else:
                num = rk0 * (ng - 1) * 2 + (nt - 1)
                pos = num // (2 * (nt - 1))
            want[i] = all_sorted[pos][0]
    assert got == want


KS_ROW = st.tuples(st.integers(0, 15), st.booleans())


@given(rows=st.lists(KS_ROW, min_size=2, max_size=20))
@SETTINGS
def test_ks_core_matches_reference(spark, rows):
    # require both samples non-empty
    if not any(a for _, a in rows) or all(a for _, a in rows):
        rows = rows + [(3, True), (5, False)]
    ab = spark.createDataFrame(
        [(x, int(a)) for x, a in rows], "n_chars long, in_a int"
    )
    r = ks_core(ab).collect()[0]
    xs_a = sorted(x for x, a in rows if a)
    xs_b = sorted(x for x, a in rows if not a)
    na, nb = len(xs_a), len(xs_b)
    support = sorted(set(xs_a) | set(xs_b))
    best = 0
    for p in support:
        ca = sum(1 for x in xs_a if x <= p)
        cb = sum(1 for x in xs_b if x <= p)
        best = max(best, abs(ca * nb - cb * na))
    assert (r.na, r.nb) == (na, nb)
    assert r.ks_scaled == best


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_dau_wau_core_matches_reference(spark, rows):
    ud_set = sorted(set(rows))
    ud = spark.createDataFrame(ud_set, "user_id long, day long")
    got = {
        r.day: (r.dau, r.wau) for r in dau_wau_core(ud).collect()
    }
    days = [d for _, d in ud_set]
    dmin, dmax = min(days), max(days)
    # Contract (engine ≡ oracle, both contribution/inner-join based):
    # a day appears iff its trailing window saw ≥1 active user; fully
    # dead windows (gaps > WAU_DAYS) emit no row. Hypothesis surfaced
    # this with activity on days {0, 8}: day 7's window is empty.
    expected = {}
    for wday in range(dmin, dmax + 1):
        wau = len(
            {
                u
                for u, d in ud_set
                if wday - (WAU_DAYS - 1) <= d <= wday
            }
        )
        if wau > 0:
            dau = sum(1 for _, d in ud_set if d == wday)
            expected[wday] = (dau, wau)
    assert got == expected
