"""Reference checks for the round-7-window time-series queries over the
events table: ``ts_peak_days`` (engine/seeds15) and
``ts_naive_forecast_eval`` (engine/seeds23).

Unlike the differential suite (which compares Spark vs DuckDB on the
fixed fixtures), these run the REGISTERED query end-to-end against a
hypothesis-generated tiny events table written to a scratch parquet
directory, and compare to a direct pure-Python computation — an
independent third implementation that would catch a semantics error
shared by the Spark query and its SQL oracle (same day-grain rollup,
same COALESCE edge convention, same round-half-up). Adversarial shapes:
constant series (no strict peaks), single-day types (zero forecasts),
all-zero lagged actuals (WAPE divide-by-zero → NULL), ties everywhere.
"""

from __future__ import annotations

import math
import shutil
import tempfile
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.timeseries import ts_naive_forecast_eval, ts_peak_days

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (type, day, cents): 2 types × 7 days × small cents — collisions (same
# type+day rows summing), ties (equal v on adjacent days), and zeros
# (WAPE denominator edge) all occur routinely at this size.
EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["click", "view"]),
        st.integers(0, 6),
        st.integers(0, 500),
    ),
    min_size=1,
    max_size=20,
)


def _write_events(spark, rows):
    """Materialize (type, day, cents) rows as an events.parquet a
    registered query can load (ts mid-day UTC, value = cents/100)."""
    tmp = tempfile.mkdtemp(prefix="ts_refcheck_")
    df = spark.createDataFrame(
        [(t, d * 86400 + 3600, c / 100.0) for t, d, c in rows],
        "event_type string, epoch long, value double",
    )
    df.selectExpr(
        "event_type", "timestamp_seconds(epoch) AS ts", "value"
    ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    return tmp


def _daily_series(rows):
    """Day-grain rollup: {type: [(day, v_cents), ...] day-ascending}."""
    agg: dict[tuple[str, int], int] = defaultdict(int)
    for t, d, c in rows:
        agg[(t, d)] += c
    series: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for (t, d), v in sorted(agg.items()):
        series[t].append((d, v))
    return series


def _round_half_up(x: float, n: int) -> float:
    # identical IEEE sequence to engine.det.pround / the rewritten oracle
    scale = 10**n
    return math.floor(x * scale + 0.5) / scale


@given(rows=EVENTS)
@SETTINGS
def test_ts_peak_days_matches_python(spark, rows):
    tmp = _write_events(spark, rows)
    try:
        got = {
            r.event_type: (r.n_days, r.n_peaks, r.first_peak_day)
            for r in ts_peak_days(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    want = {}
    for t, days in _daily_series(rows).items():
        peaks = []
        for i, (d, v) in enumerate(days):
            pv = days[i - 1][1] if i > 0 else v - 1
            nv = days[i + 1][1] if i + 1 < len(days) else v - 1
            if v > pv and v > nv:
                peaks.append(d)
        want[t] = (len(days), len(peaks), min(peaks) if peaks else None)
    assert got == want


@given(rows=EVENTS)
@SETTINGS
def test_ts_naive_forecast_eval_matches_python(spark, rows):
    tmp = _write_events(spark, rows)
    try:
        got = {
            r.event_type: (r.n_forecasts, r.abs_err_cents, r.mae_cents, r.wape)
            for r in ts_naive_forecast_eval(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    for t, days in _daily_series(rows).items():
        vals = [v for _, v in days]
        n = len(vals) - 1
        if n == 0:
            # single day: no lag rows — every aggregate over yhat is NULL
            assert got[t] == (0, None, None, None)
            continue
        abs_err = sum(abs(vals[i] - vals[i - 1]) for i in range(1, len(vals)))
        denom = sum(vals[1:])  # actuals on forecasted days only
        g_n, g_abs, g_mae, g_wape = got[t]
        assert (g_n, g_abs) == (n, abs_err)
        assert g_mae == pytest.approx(
            _round_half_up(abs_err / n, 4), abs=1e-9
        )
        if denom == 0:
            # Spark double divide-by-zero is NULL in non-ANSI mode
            assert g_wape is None
        else:
            assert g_wape == pytest.approx(
                _round_half_up(abs_err / denom, 6), abs=1e-9
            )
    assert set(got) == set(_daily_series(rows))
