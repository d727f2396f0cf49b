"""Property tests for the round-7 seeds — the contracts the driver's
hash compare can't see: funnel stage accounting, containment threshold
invariants, percentile ordering, and scratch-catalog hygiene for the
two side-effecting layout operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import engine
from engine.curation import CONTAIN_THRESHOLD, CONTAIN_WITNESS_MAX_ID
from engine.timeseries import FUNNEL_STEPS
from tests.conftest import SF_DIR


def test_funnel_partitions_viewers(spark):
    """Every user with ≥1 first-step event lands in exactly one
    max_stage bucket; stages are within [1, 3]; time-to-last is
    non-negative and bounded by 2× the deadline for stage 3 (two
    transitions, 1 h each)."""
    rows = engine.QUERIES["events_window_funnel"](spark, SF_DIR).collect()
    n_viewers = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("event_type") == FUNNEL_STEPS[0])
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in rows) == n_viewers
    for r in rows:
        assert 1 <= r["max_stage"] <= 3
        assert r["avg_secs_to_last"] >= 0
        if r["max_stage"] == 3:
            assert r["avg_secs_to_last"] <= 7200


def test_containment_threshold_and_cap(spark):
    """Every reported doc is inside the witness cap, has ≥1 superset
    partner, and best_c respects the threshold (after 4-dp rounding)."""
    rows = engine.QUERIES["llm_containment_neardup"](spark, SF_DIR).collect()
    assert rows, "witness found no containment pairs on the fixtures"
    for r in rows:
        assert r["doc_id"] < CONTAIN_WITNESS_MAX_ID
        assert r["best_b"] < CONTAIN_WITNESS_MAX_ID
        assert r["n_sup"] >= 1
        assert r["best_c"] >= CONTAIN_THRESHOLD - 5e-5
        assert r["doc_id"] != r["best_b"]


def test_gap_percentiles_ordered(spark):
    """p50 ≤ p95 ≤ max per event type, and every type appears."""
    rows = engine.QUERIES["events_gap_percentiles"](spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["p50_gap_s"] <= r["p95_gap_s"] <= r["max_gap_s"]
        assert r["n_gaps"] > 0


def test_ratio_to_report_shares_sum_to_one(spark):
    """Within each region the nation shares sum to ~1 and ranks are a
    permutation of 1..n."""
    rows = engine.QUERIES["win_ratio_to_report"](spark, SF_DIR).collect()
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r["r_name"], []).append(r)
    for rs in by_region.values():
        assert abs(sum(r["region_share"] for r in rs) - 1.0) < 1e-4
        assert sorted(r["region_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        )


def test_layout_ops_clean_up_catalog(spark):
    """join_bucketed_colocated must drop its scratch database even
    though it returns a live (localized) frame — the catalog's
    databases after the query runs are the ones before it."""
    before = sorted(d.name for d in spark.catalog.listDatabases())
    df = engine.QUERIES["join_bucketed_colocated"](spark, SF_DIR)
    assert df.count() > 0
    assert sorted(d.name for d in spark.catalog.listDatabases()) == before


def test_hll_drift_within_published_bound(spark):
    """HLL++ with rsd=0.05 must land within ~3·rsd of the exact count
    (the published standard-error bound) at two scale factors — the
    contract that makes the sketch a legitimate 100 TB replacement for
    exact distinct (agg_hll_drift is declared no-oracle, so this IS
    its correctness check)."""
    from engine.aggregates import HLL_RSD

    for sf in ("/root/testdata/sf0.001", SF_DIR):
        for r in engine.QUERIES["agg_hll_drift"](spark, sf).collect():
            assert r["rel_err"] <= 3 * HLL_RSD, (
                f"{sf} {r['event_type']}: rel_err {r['rel_err']}"
            )
            assert r["abs_err"] == r["approx_n"] - r["exact_n"]


def test_pareto_crossing_consistent(spark):
    """days_to_80pct is within [1, n_days] and the top day's share
    never exceeds 1; a type whose top share ≥ 0.8 must cross at day 1."""
    rows = engine.QUERIES["win_pareto_days"](spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 1 <= r["days_to_80pct"] <= r["n_days"]
        assert 0 < r["top_day_share"] <= 1
        if r["top_day_share"] >= 0.8:
            assert r["days_to_80pct"] == 1


def test_schema_evolution_null_fill(spark):
    """The mergeSchema read keeps v1 rows (null n_chars) and v2 rows
    (populated) — totals must reconcile with the raw documents table."""
    rows = engine.QUERIES["source_schema_evolution"](spark, SF_DIR).collect()
    from engine.sql_surface import SCHEMA_V1_MAX_ID

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    n_v1 = docs.filter(F.col("doc_id") < SCHEMA_V1_MAX_ID).count()
    assert sum(r["n_rows"] for r in rows) == n_docs
    assert sum(r["n_v1_rows"] for r in rows) == n_v1


# ---------------------------------------------------------------------------
# Hypothesis: funnel + nearest-as-of cores vs pure-Python references on
# adversarial synthetic streams (ties, deadline edges, missing stages).
# ---------------------------------------------------------------------------

import datetime as _dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.timeseries import funnel_staged, nearest_gaps

H_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_T0 = _dt.datetime(2024, 1, 1)
HOUR_US = 3600 * 1000000

# Offsets in seconds chosen so deadline boundaries (exactly 1 h) occur.
EVENT = st.tuples(
    st.integers(min_value=0, max_value=2),  # user
    st.sampled_from(["view", "click", "purchase", "error"]),
    st.integers(min_value=0, max_value=7200),  # offset seconds
)


def _mkdf(spark, events):
    rows = [
        (u, t, _T0 + _dt.timedelta(seconds=s), i)
        for i, (u, t, s) in enumerate(events)
    ]
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )


@given(events=st.lists(EVENT, min_size=1, max_size=14))
@H_SETTINGS
def test_funnel_staged_matches_reference(spark, events):
    """Greedy earliest-transition funnel == the obvious Python loop:
    t1 = min view; t2 = min click in (t1, t1+1h]; t3 = min purchase in
    (t2, t2+1h] — including exact-deadline boundary events."""
    df = _mkdf(spark, events)
    got = {
        r["user_id"]: (r["max_stage"], r["us_to_last"])
        for r in funnel_staged(df).collect()
    }
    by_user: dict[int, list] = {}
    for u, t, s in events:
        by_user.setdefault(u, []).append((t, s * 1000000))
    want = {}
    for u, evs in by_user.items():
        views = [us for t, us in evs if t == "view"]
        if not views:
            continue
        t1 = min(views)
        t2 = min(
            (us for t, us in evs if t == "click" and t1 < us <= t1 + HOUR_US),
            default=None,
        )
        t3 = (
            min(
                (
                    us
                    for t, us in evs
                    if t == "purchase" and t2 < us <= t2 + HOUR_US
                ),
                default=None,
            )
            if t2 is not None
            else None
        )
        stage = 3 if t3 is not None else (2 if t2 is not None else 1)
        last = t3 if t3 is not None else (t2 if t2 is not None else t1)
        want[u] = (stage, last - t1)
    assert got == want


@given(events=st.lists(EVENT, min_size=1, max_size=14))
@H_SETTINGS
def test_nearest_gaps_match_reference(spark, events):
    """Bidirectional nearest-view gap per error == min |Δt| over all
    same-user views (the windowed rewrite must equal the naive
    quadratic definition), for every error with ≥1 same-user view."""
    df = _mkdf(spark, [e for e in events]).filter(
        F.col("event_type").isin("error", "view")
    )
    got = sorted(
        (r["user_id"], r["gap_us"]) for r in nearest_gaps(df).collect()
    )
    by_user: dict[int, dict[str, list]] = {}
    for u, t, s in events:
        if t in ("error", "view"):
            by_user.setdefault(u, {"error": [], "view": []})[t].append(
                s * 1000000
            )
    want = sorted(
        (u, min(abs(e - v) for v in d["view"]))
        for u, d in by_user.items()
        if d["view"]
        for e in d["error"]
    )
    assert got == want
