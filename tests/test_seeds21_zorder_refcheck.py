"""Reference checks for the Z-order layout audit (engine/seeds21
``sink_zorder_layout``): the Morton bit-interleave expression pinned
against a pure-Python interleave, and the full bucket-span audit pinned
against a Python re-computation on a 2,500-row grid that actually
crosses the 1,000-row bucket cuts (the sf0.001 fixture and any
hypothesis-sized input land entirely in bucket 0, leaving the
row_number // Z_FILE_ROWS cut untested — this input does not).
"""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.sql_surface import Z_BITS, Z_FILE_ROWS, _morton_spark, sink_zorder_layout

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _morton_py(u: int, d: int) -> int:
    m = 0
    for k in range(Z_BITS):
        m += ((u >> k) & 1) << (2 * k)
        m += ((d >> k) & 1) << (2 * k + 1)
    return m


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_morton_expression_matches_python(spark, pairs):
    df = spark.createDataFrame(pairs, "user_k long, day_k long")
    got = [
        r.m
        for r in df.selectExpr(
            f"{_morton_spark('user_k', 'day_k')} AS m"
        ).collect()
    ]
    assert got == [_morton_py(u, d) for u, d in pairs]


def test_zorder_audit_matches_python_across_buckets(spark):
    # 2,500 events over a 50×50 (user_k, day_k) grid → 3 buckets
    # (1000/1000/500); every span and cut position is recomputed below.
    n = 2500
    rows = [(i % 50, ((i * 7) % 50) * 86400 + 3600, i) for i in range(n)]
    tmp = tempfile.mkdtemp(prefix="zorder_refcheck_")
    try:
        df = spark.createDataFrame(
            rows, "user_id long, epoch long, event_id long"
        )
        df.selectExpr(
            "user_id", "timestamp_seconds(epoch) AS ts", "event_id"
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r.bucket: (r.n_rows, r.user_span, r.day_span)
            for r in sink_zorder_layout(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    keyed = sorted(
        (_morton_py(u % 1024, (e // 86400) % 1024), eid, u % 1024, (e // 86400) % 1024)
        for u, e, eid in rows
    )
    want = {}
    for b in range(0, n, Z_FILE_ROWS):
        chunk = keyed[b : b + Z_FILE_ROWS]
        us = [u for _, _, u, _ in chunk]
        ds = [d for _, _, _, d in chunk]
        want[b // Z_FILE_ROWS] = (
            len(chunk),
            max(us) - min(us),
            max(ds) - min(ds),
        )
    assert got == want
    # the audit's reason to exist: Morton bounds BOTH spans well below
    # the 49 full-range a single-column sort would leave in one of them
    assert all(u < 49 and d < 49 for _, u, d in got.values())
