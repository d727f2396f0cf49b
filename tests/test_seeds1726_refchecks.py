"""Reference checks for ``llm_curriculum_stages`` (engine/seeds17) and
``llm_winsorize_clip`` (engine/seeds26).

Same harness as the other round-7-window refcheck files: hypothesis
generates a tiny input table, the REGISTERED query runs end-to-end on a
scratch parquet dir, and a direct pure-Python computation is the third
implementation. The algorithmic cores pinned here are the two classic
cross-engine traps these queries depend on: NTILE bucket sizing
(n//k + 1 for the first n%k tiles over the deterministic sort) and
linear-interpolated percentiles (pos = q·(n−1), lower + frac·(higher−
lower)) driving exact clip counts.
"""

from __future__ import annotations

import math
import shutil
import tempfile
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.curation import (
    CURRICULUM_STAGES,
    WINSOR_HI,
    WINSOR_LO,
    llm_curriculum_stages,
    llm_winsorize_clip,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _round_half_up(x: float, n: int) -> float:
    scale = 10**n
    return math.floor(x * scale + 0.5) / scale


# --- llm_curriculum_stages --------------------------------------------------

# (n_chars, n_tokens) per doc; tiny n_chars domain forces sort ties that
# only the doc_id tie-break resolves, and n < stages forces empty tiles.
CURR_DOCS = st.lists(
    st.tuples(st.integers(0, 4), st.integers(1, 5)),
    min_size=1,
    max_size=13,
)


@given(docs=CURR_DOCS)
@SETTINGS
def test_curriculum_stages_matches_python(spark, docs):
    rows = [
        (i, " ".join(["tok"] * ntok), nc)
        for i, (nc, ntok) in enumerate(docs)
    ]
    tmp = tempfile.mkdtemp(prefix="curriculum_refcheck_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long"
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            r.stage: (r.n_docs, r.min_chars, r.max_chars, r.mean_tokens)
            for r in llm_curriculum_stages(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ordered = sorted(rows, key=lambda r: (r[2], r[0]))  # (n_chars, doc_id)
    n, k = len(ordered), CURRICULUM_STAGES
    tiles: dict[int, list[tuple[int, str, int]]] = defaultdict(list)
    i = 0
    for stage in range(1, k + 1):
        size = n // k + (1 if stage <= n % k else 0)
        for r in ordered[i : i + size]:
            tiles[stage].append(r)
        i += size
    want_stages = {s for s, members in tiles.items() if members}
    assert set(got) == want_stages
    for s in want_stages:
        members = tiles[s]
        toks = [len(t.split(" ")) for _, t, _ in members]
        chars = [nc for _, _, nc in members]
        g_n, g_min, g_max, g_mean = got[s]
        assert (g_n, g_min, g_max) == (len(members), min(chars), max(chars))
        assert g_mean == pytest.approx(
            _round_half_up(sum(toks) / len(members), 4), abs=1e-9
        )


# --- llm_winsorize_clip -----------------------------------------------------

# (type, cents): one or two types, duplicate-heavy small cents so the
# interpolated bounds land on and between repeated values.
WINSOR_EVENTS = st.lists(
    st.tuples(st.sampled_from(["click", "view"]), st.integers(0, 1000)),
    min_size=1,
    max_size=15,
)


def _pct_linear(sorted_vals: list[int], q: float) -> float:
    pos = q * (len(sorted_vals) - 1)
    lo_i, hi_i = math.floor(pos), math.ceil(pos)
    frac = pos - lo_i
    return sorted_vals[lo_i] + (sorted_vals[hi_i] - sorted_vals[lo_i]) * frac


@given(rows=WINSOR_EVENTS)
@SETTINGS
def test_winsorize_clip_matches_python(spark, rows):
    tmp = tempfile.mkdtemp(prefix="winsor_refcheck_")
    try:
        df = spark.createDataFrame(
            [(t, 3600, c / 100.0) for t, c in rows],
            "event_type string, epoch long, value double",
        )
        df.selectExpr(
            "event_type", "timestamp_seconds(epoch) AS ts", "value"
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r.event_type: (r.n, r.n_clipped, r.mean_raw, r.mean_winsorized)
            for r in llm_winsorize_clip(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    per_type: dict[str, list[int]] = defaultdict(list)
    for t, c in rows:
        per_type[t].append(c)
    assert set(got) == set(per_type)
    for t, cents in per_type.items():
        s = sorted(cents)
        lo, hi = _pct_linear(s, WINSOR_LO), _pct_linear(s, WINSOR_HI)
        n_clipped = sum(1 for c in cents if c < lo or c > hi)
        winsorized = [lo if c < lo else hi if c > hi else c for c in cents]
        g_n, g_clip, g_raw, g_wins = got[t]
        # counts exact: the clip margin (frac·gap ≥ 0.01 between distinct
        # integer cents) dwarfs any last-ulp interpolation-form skew
        assert (g_n, g_clip) == (len(cents), n_clipped)
        assert g_raw == pytest.approx(
            _round_half_up(sum(cents) / len(cents), 4), abs=1e-6
        )
        # The op (and its DuckDB oracle — both use the identical
        # decomposed form Σ(in-band c) + n_lo·lo + n_hi·hi) can differ
        # from this model's SEQUENTIAL float sum by one ulp; when the
        # winsorized mean lands EXACTLY on a .5·10⁻⁴ rounding boundary
        # (hypothesis found cents [661,124,0,126,169,124,480,124]:
        # mean 225.50125), that ulp legitimately decides the 4th digit.
        # Engine↔oracle stay aligned (same expression form); only this
        # python refcheck must accept either side of the boundary.
        wmean = sum(winsorized) / len(winsorized)
        scaled = wmean * 10**4
        if abs(scaled - math.floor(scaled) - 0.5) < 1e-6:
            assert g_wins in (
                pytest.approx(math.floor(scaled) / 10**4, abs=1e-9),
                pytest.approx((math.floor(scaled) + 1) / 10**4, abs=1e-9),
            )
        else:
            assert g_wins == pytest.approx(
                _round_half_up(wmean, 4), abs=1e-6
            )
