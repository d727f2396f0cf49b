"""Pure-Python reference checks for the remaining aggregation cores
without a dedicated pin: Benford first-digit shares, code-symbol
density routing, label-balance chi-square terms, additive seasonal
decomposition, and the lang-ID confusion row shares — each compared
cell-for-cell against an independent (third-implementation) reference
on hypothesis-generated parquet fixtures, the same adversarial-tiny
pattern as tests/test_seeds1523_ts_refchecks.py (collisions, empty
groups, zero denominators all occur routinely at these sizes).
"""

from __future__ import annotations

import math
import shutil
import tempfile
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.aggregates import agg_benford_audit
from engine.curation import llm_code_fraction
from engine.multimodal import mm_label_balance_chi2

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _round_half_up(x: float, n: int) -> float:
    # identical IEEE sequence to engine.det.pround / the rewritten oracle
    scale = 10**n
    return math.floor(x * scale + 0.5) / scale


def _write_table(spark, tmp, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmp}/{name}.parquet"
    )


# ---------------------------------------------------------------------------
# agg_benford_audit — first-digit histogram vs direct string slicing
# ---------------------------------------------------------------------------

# cents 0..10^6: zeros exercise the o_totalprice > 0 filter; the range
# spans 1-7 digit cent strings so every first digit occurs.
PRICES = st.lists(st.integers(0, 10**6), min_size=1, max_size=30)


@given(cents=PRICES)
@SETTINGS
def test_benford_audit_matches_python(spark, cents):
    tmp = tempfile.mkdtemp(prefix="benford_refcheck_")
    try:
        _write_table(
            spark,
            tmp,
            "orders",
            [(c / 100.0,) for c in cents],
            "o_totalprice double",
        )
        got = {
            r.first_digit: (r.n, r.observed_share, r.benford_share)
            for r in agg_benford_audit(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    counts: dict[int, int] = defaultdict(int)
    for c in cents:
        p = c / 100.0
        if p > 0:
            counts[int(str(math.floor(p * 100 + 0.5))[0])] += 1
    tot = sum(counts.values())
    want = {
        d: (
            n,
            _round_half_up(n / tot, 6),
            _round_half_up(math.log10(1.0 + 1.0 / d), 6),
        )
        for d, n in counts.items()
    }
    assert got == want


# ---------------------------------------------------------------------------
# llm_code_fraction — symbol-density routing vs direct char counting
# ---------------------------------------------------------------------------

TEXT = st.text(
    alphabet="ab {};=.",  # letters, space, and exactly the 4 code symbols
    min_size=0,
    max_size=40,
)
DOCS = st.lists(
    st.tuples(st.sampled_from(["en", "fr"]), TEXT), min_size=1, max_size=15
)


@given(docs=DOCS)
@SETTINGS
def test_code_fraction_matches_python(spark, docs):
    tmp = tempfile.mkdtemp(prefix="codefrac_refcheck_")
    try:
        _write_table(
            spark, tmp, "documents", list(docs), "lang string, text string"
        )
        got = {
            r.lang: (r.n_docs, r.code_chars, r.code_char_share, r.n_codeish_docs)
            for r in llm_code_fraction(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    per_lang: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for lang, text in docs:
        n_chars = len(text)
        n_code = sum(text.count(ch) for ch in "{};=")
        per_lang[lang].append((n_chars, n_code))
    want = {}
    for lang, rows in per_lang.items():
        tot_chars = sum(c for c, _ in rows)
        tot_code = sum(k for _, k in rows)
        share = (
            _round_half_up(tot_code / tot_chars, 6) if tot_chars else None
        )  # 0/0 double divide is NULL in non-ANSI Spark
        codeish = sum(1 for c, k in rows if k * 50 > c)
        want[lang] = (len(rows), tot_code, share, codeish)
    assert got == want


# ---------------------------------------------------------------------------
# mm_label_balance_chi2 — chi-square terms vs the textbook formula
# ---------------------------------------------------------------------------

LABELS = st.lists(st.sampled_from(list("abcd")), min_size=1, max_size=25)


@given(labels=LABELS)
@SETTINGS
def test_label_balance_chi2_matches_python(spark, labels):
    tmp = tempfile.mkdtemp(prefix="chi2_refcheck_")
    try:
        _write_table(
            spark, tmp, "embeddings", [(x,) for x in labels], "label string"
        )
        got = {
            r.label: (r.n, r.share, r.chi2_term)
            for r in mm_label_balance_chi2(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    counts: dict[str, int] = defaultdict(int)
    for x in labels:
        counts[x] += 1
    tot, k = len(labels), len(counts)
    want = {}
    for lab, n in counts.items():
        dev = n * k - tot
        want[lab] = (
            n,
            _round_half_up(n / tot, 6),
            _round_half_up(dev * dev / (float(k) * tot), 6),
        )
    assert got == want
    # the integer-numerator terms sum to the textbook chi² statistic
    exp = tot / k
    chi2_direct = sum((n - exp) ** 2 / exp for n in counts.values())
    chi2_terms = sum(dev * dev / (float(k) * tot) for dev in
                     (n * k - tot for n in counts.values()))
    assert chi2_terms == pytest.approx(chi2_direct, rel=1e-9, abs=1e-9)


# ---------------------------------------------------------------------------
# ts_seasonal_decompose — hour-of-day effects vs direct (n, Σ, Σ²) math
# ---------------------------------------------------------------------------

# (type, hour, cents): 2 types × 4 hours — multiple rows per cell and
# single-row cells (within_rms exactly 0) both occur routinely.
EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["click", "view"]),
        st.integers(0, 3),
        st.integers(0, 500),
    ),
    min_size=1,
    max_size=20,
)


@given(rows=EVENTS)
@SETTINGS
def test_seasonal_decompose_matches_python(spark, rows):
    from engine.timeseries import ts_seasonal_decompose

    tmp = tempfile.mkdtemp(prefix="seasonal_refcheck_")
    try:
        df = spark.createDataFrame(
            [(t, h * 3600, c / 100.0) for t, h, c in rows],
            "event_type string, epoch long, value double",
        )
        df.selectExpr(
            "event_type", "timestamp_seconds(epoch) AS ts", "value"
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            (r.event_type, r.hr): (r.n, r.hour_mean, r.hour_effect, r.within_rms)
            for r in ts_seasonal_decompose(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cells: dict[tuple[str, int], list[int]] = defaultdict(list)
    for t, h, c in rows:
        cells[(t, h)].append(math.floor((c / 100.0) * 100 + 0.5))
    grand: dict[str, tuple[int, int]] = defaultdict(lambda: (0, 0))
    for (t, _), vs in cells.items():
        gn, gs = grand[t]
        grand[t] = (gn + len(vs), gs + sum(vs))
    want = {}
    for (t, h), vs in cells.items():
        n, s1, s2 = len(vs), sum(vs), sum(v * v for v in vs)
        mean = s1 / n
        gn, gs = grand[t]
        arg = s2 / n - mean * mean
        rms = _round_half_up(math.sqrt(arg), 4) if arg >= 0 else None
        want[(t, h)] = (
            n,
            _round_half_up(mean, 4),
            _round_half_up(mean - gs / gn, 4),
            rms,
        )
    assert got == want


# ---------------------------------------------------------------------------
# llm_langid_confusion — row shares vs a pandas re-aggregation of the
# registered classifier's own per-doc output (sf0.001 fixture)
# ---------------------------------------------------------------------------


def test_langid_confusion_matches_pandas_reaggregation(spark):
    import engine
    from tests.conftest import SF_DIR

    preds = (
        engine.QUERIES["llm_lang_id"](spark, SF_DIR)
        .select("actual_lang", "pred_lang")
        .toPandas()
    )
    got = {
        (r.actual_lang, r.pred_lang): (r.n, r.row_share)
        for r in engine.QUERIES["llm_langid_confusion"](
            spark, SF_DIR
        ).collect()
    }
    cell = preds.groupby(["actual_lang", "pred_lang"]).size()
    row_tot = preds.groupby("actual_lang").size()
    want = {
        (a, p): (n, _round_half_up(n / row_tot[a], 4))
        for (a, p), n in cell.items()
    }
    assert got == want
