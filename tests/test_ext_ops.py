"""Operator tests beyond the differential sweep: a hypothesis property
for the sessionizer (vs a pure-Python reference) and structural
invariants of the pipeline-composition queries on the small fixture.

The differential suite already hash-compares each of these queries to
its DuckDB oracle; these target the logic on adversarial inputs (ties, gap
boundaries, single-event users) and the cross-query consistency the
oracles can't see (funnel monotonicity, split-count agreement).
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import engine
from engine.windows import sessionize

from tests.conftest import SF_DIR

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

GAP = 10  # small gap so generated streams produce multi-session users

EVENTS = st.lists(
    st.tuples(
        st.integers(0, 2),  # user_id
        st.integers(0, 60),  # ts offset seconds (ties possible)
        st.booleans(),  # purchase?
    ),
    min_size=1,
    max_size=25,
)


def _py_sessionize(rows):
    """Reference sessionizer: sort per user by (ts, event_id), split on
    gap > GAP, return {(user, idx): (n_events, secs, purchases)}."""
    by_user: dict[int, list] = {}
    for eid, (uid, off, buy) in enumerate(rows):
        by_user.setdefault(uid, []).append((off, eid, buy))
    out = {}
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        idx = 0
        cur: list = []
        prev = None
        for off, eid, buy in evs:
            if prev is None or off - prev > GAP:
                if cur:
                    out[(uid, idx)] = cur
                idx += 1
                cur = []
            cur.append((off, buy))
            prev = off
        out[(uid, idx)] = cur
    return {
        k: (
            len(v),
            v[-1][0] - v[0][0],
            sum(1 for _, b in v if b),
        )
        for k, v in out.items()
    }


@given(rows=EVENTS)
@SETTINGS
def test_sessionize_matches_python_reference(spark, rows):
    base = datetime.datetime(2020, 1, 1)
    data = [
        (
            uid,
            eid,
            base + datetime.timedelta(seconds=off),
            "purchase" if buy else "click",
        )
        for eid, (uid, off, buy) in enumerate(rows)
    ]
    e = spark.createDataFrame(
        data, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.session_secs, r.n_purchases)
        for r in sessionize(e, GAP).collect()
    }
    assert got == _py_sessionize(rows), rows


def test_dedup_pipeline_funnel_invariants(spark):
    """Stage counts are monotone non-increasing and the split exhausts
    the quality stage."""
    rows = engine.QUERIES["llm_dedup_pipeline"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_raw >= r.n_dedup >= r.n_quality >= 0, r
        assert r.n_quality == r.n_train + r.n_eval, r


def test_decontaminate_consistent_with_split(spark):
    """n_train partitions into contaminated + clean, and per-lang train
    counts agree with llm_train_test_split's independent bucketing."""
    rows = engine.QUERIES["llm_decontaminate"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_train == r.n_contaminated + r.n_clean, r
    split = {
        (r.lang, r.split): r.n_docs
        for r in engine.QUERIES["llm_train_test_split"](spark, SF_DIR).collect()
    }
    for r in rows:
        assert split.get((r.lang, "train"), 0) == r.n_train, r


def test_histogram_partitions_all_rows(spark):
    """Buckets cover every order exactly once and stay in [0, 9]."""
    rows = engine.QUERIES["agg_histogram"](spark, SF_DIR).collect()
    assert sum(r.n_orders for r in rows) == spark.read.parquet(
        f"{SF_DIR}/orders.parquet"
    ).count()
    assert all(0 <= r.bucket <= 9 for r in rows)


def test_approx_quantile_tracks_exact(spark):
    """The sketch path must stay within 1% relative error of the exact
    percentiles — the contract that justifies using it at scale."""
    aq = {
        r.l_returnflag: r
        for r in engine.QUERIES["agg_approx_quantile"](spark, SF_DIR).collect()
    }
    for r in engine.QUERIES["agg_percentile"](spark, SF_DIR).collect():
        a = aq[r.l_returnflag]
        for approx, exact in [
            (a.ap25, r.p25),
            (a.ap50, r.p50),
            (a.ap75, r.p75),
            (a.ap90, r.p90),
        ]:
            assert abs(approx - exact) / exact < 0.01, (r.l_returnflag,)


def test_q18_bounded_and_ordered(spark):
    """Top-100 contract: ≤100 rows, descending price with orderkey
    tiebreak, every total above the threshold."""
    from engine.tpch import Q18_QTY_THRESHOLD

    rows = engine.QUERIES["q18_large_volume"](spark, SF_DIR).collect()
    assert len(rows) <= 100
    keys = [(-r.o_totalprice, r.o_orderkey) for r in rows]
    assert keys == sorted(keys)
    assert all(r.total_qty > Q18_QTY_THRESHOLD for r in rows)
