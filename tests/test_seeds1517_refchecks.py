"""Reference checks for two more round-7-window queries:
``events_wilson_alert`` (engine/seeds17) and
``llm_survivor_policy_longest`` (engine/seeds15).

Same harness as tests/test_seeds1523_ts_refchecks.py: hypothesis
generates a tiny input table, the REGISTERED query runs end-to-end
against a scratch parquet directory, and the result is compared to a
direct pure-Python computation — independent of both the Spark plan and
the DuckDB oracle. Adversarial shapes: all-error / zero-error days
(p̂ = 1 / 0 in the Wilson formula), bounds landing at the alert
threshold, singleton clusters (filtered out), n_chars ties resolved by
the packed key, and min-id == longest coincidences (policy_differs=0).
"""

from __future__ import annotations

import math
import shutil
import tempfile
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.curation import llm_survivor_policy_longest
from engine.timeseries import WILSON_THRESHOLD, WILSON_Z, events_wilson_alert

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _round_half_up(x: float, n: int) -> float:
    scale = 10**n
    return math.floor(x * scale + 0.5) / scale


# --- events_wilson_alert ---------------------------------------------------

# (day, is_err) with 3 days and heavy error mixes: per-day (k, n) hits
# k=0, k=n, and tiny-n cells where Wilson and the raw ratio disagree.
ERR_EVENTS = st.lists(
    st.tuples(st.integers(0, 2), st.booleans()),
    min_size=1,
    max_size=15,
)


@given(rows=ERR_EVENTS)
@SETTINGS
def test_wilson_alert_matches_python(spark, rows):
    tmp = tempfile.mkdtemp(prefix="wilson_refcheck_")
    try:
        df = spark.createDataFrame(
            [
                ("error" if err else "view", d * 86400 + 3600, 1.0)
                for d, err in rows
            ],
            "event_type string, epoch long, value double",
        )
        df.selectExpr(
            "event_type", "timestamp_seconds(epoch) AS ts", "value"
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r.day: (r.n, r.k, r.p_hat, r.wilson_lo, r.alert)
            for r in events_wilson_alert(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    per_day: dict[int, list[bool]] = defaultdict(list)
    for d, err in rows:
        per_day[d].append(err)
    assert set(got) == set(per_day)
    z2 = WILSON_Z * WILSON_Z
    for d, errs in per_day.items():
        n, k = len(errs), sum(errs)
        p = k / n
        # identical IEEE expression sequence to the query / oracle
        lo = (
            p
            + z2 / (2 * n)
            - WILSON_Z * math.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
        ) / (1 + z2 / n)
        lo_r = _round_half_up(lo, 6)
        g_n, g_k, g_p, g_lo, g_alert = got[d]
        assert (g_n, g_k) == (n, k)
        assert g_p == pytest.approx(_round_half_up(p, 6), abs=1e-9)
        assert g_lo == pytest.approx(lo_r, abs=1e-9)
        assert g_alert == int(lo_r > WILSON_THRESHOLD)


# --- llm_survivor_policy_longest -------------------------------------------

# (doc_id, text_idx, n_chars): 4 distinct texts over ≤12 docs forces
# multi-doc clusters; tiny n_chars domain forces ties inside clusters.
DOCS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 5)),
    min_size=1,
    max_size=12,
)
TEXTS = ["join filter", "window spark", "filter window", "spark join"]


@given(docs=DOCS)
@SETTINGS
def test_survivor_policy_matches_python(spark, docs):
    rows = [
        (i, TEXTS[t], nc) for i, (t, nc) in enumerate(docs)
    ]  # doc_id dense from 0, matching the fixture contract
    tmp = tempfile.mkdtemp(prefix="survivor_refcheck_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long"
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            r.h: (
                r.cluster_size,
                r.survivor_longest,
                r.survivor_minid,
                r.policy_differs,
            )
            for r in llm_survivor_policy_longest(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    import hashlib

    clusters: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for doc_id, text, nc in rows:
        clusters[hashlib.md5(text.encode()).hexdigest()].append((doc_id, nc))
    want = {}
    for h, members in clusters.items():
        if len(members) < 2:
            continue  # singleton clusters are filtered out
        # keep-longest, ties to the LOWEST doc_id (the packed-key order)
        longest = max(members, key=lambda m: m[1] * 100000000 - m[0])[0]
        minid = min(m[0] for m in members)
        want[h] = (len(members), longest, minid, int(longest != minid))
    assert got == want
