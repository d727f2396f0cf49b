"""Round-8 seed behavioral + physical-plan checks (SURVEY.md §5 layers
2/4): the transformWithStateInPandas stream must equal its batch-checked
form, and the scale-design claims in engine/seeds8.py docstrings are
pinned as plan assertions (shared user_id exchange, join-free
interpolation, decorrelated LATERAL, exchange-free lambda surface).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest

import engine
from engine.streaming import tws_counter_stream
from tests.conftest import SF_DIR, normalize

_SCRATCH = Path(__file__).resolve().parent.parent / ".scratch"


def _plan(spark, qid):
    return (
        engine.QUERIES[qid](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_tws_stream_matches_batch(spark):
    """transformWithStateInPandas (update mode, availableNow replay):
    the FINAL row per user in the memory sink must equal the
    batch-checked aggregate — integer cent state, so equality is exact.
    """
    # The tWS Python runner needs protobuf (absent in this container,
    # installs forbidden) — probe and skip honestly rather than letting
    # an infra crash masquerade as an operator failure. See the
    # tws_counter_stream docstring; SURVEY.md §2 flags the surface.
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState Python runner requires protobuf; "
        "not available in this container",
    )
    batch = engine.QUERIES["stream_tws_counter"](spark, SF_DIR).toPandas()
    name = f"tws_{uuid.uuid4().hex[:8]}"
    ckpt = _SCRATCH / f"ckpt_{name}"
    q = (
        tws_counter_stream(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # update mode re-emits a key per micro-batch it appears in; the
    # final emission per user is the lifetime state.
    sink = spark.table(name).toPandas()
    final = (
        sink.groupby("user_id", as_index=False)
        .last()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert normalize(final) == normalize(
        batch.sort_values("user_id").reset_index(drop=True)
    )


def test_running_distinct_single_exchange(spark):
    """Both windows (the (user,type) first-occurrence marker and the
    user running sum) must share ONE user_id exchange — the explicit
    repartition makes hashpartitioning(user_id) satisfy both window
    clusterings (engine/seeds8.py docstring claim)."""
    p = _plan(spark, "win_running_distinct")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Window") >= 2


def test_ewma_single_exchange_single_window_pass(spark):
    """All 8 lags must evaluate in one window pass over one user_id
    exchange (shared with the day-grain aggregate)."""
    p = _plan(spark, "ts_ewma_smooth")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Window") == 1, "lags split across window passes"


def test_interpolate_join_free_single_scan(spark):
    """The lead()+sequence() gap-segment rewrite must plan as ONE fact
    scan, ONE user_id exchange, and NO join — the textbook spine join
    lives only in the DuckDB oracle."""
    p = _plan(spark, "ts_interpolate_linear")
    assert p.count("FileScan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, "spine join crept back into the Spark plan"
    assert "Generate explode" in p


def test_lateral_topk_decorrelates(spark):
    """Catalyst must decorrelate the LATERAL (ORDER BY ... LIMIT 2)
    subquery into a window rank + join — never a nested-loop
    per-customer re-scan of orders."""
    p = _plan(spark, "sql_lateral_topk")
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_lambda_surface_map_only(spark):
    """Higher-order lambdas must stay JVM-side and shuffle-free: no
    Exchange, no Python eval in the plan."""
    p = _plan(spark, "fn_lambda_surface")
    assert "Exchange" not in p, p
    assert "Python" not in p, "lambda fell back to a Python UDF"
    assert "ReadSchema: struct<embedding" in p or "embedding" in p


def test_welch_symmetry_and_pairs(spark):
    """5 event types → exactly C(5,2)=10 unordered pairs; t(a,b) is
    antisymmetric so every t must be finite and nonzero-df."""
    pdf = engine.QUERIES["events_ab_welch"](spark, SF_DIR).toPandas()
    assert len(pdf) == 10
    assert (pdf["welch_df"] > 0).all()
    assert pdf[["type_a", "type_b"]].apply(tuple, axis=1).is_unique


def test_mad_outliers_bounded_by_n(spark):
    pdf = engine.QUERIES["events_anomaly_mad"](spark, SF_DIR).toPandas()
    assert (pdf["n_outliers"] <= pdf["n"]).all()
    assert (pdf["mad_c"] >= 0).all()


def test_compaction_reduces_files_preserving_rows(spark):
    pdf = engine.QUERIES["sink_compaction"](spark, SF_DIR).toPandas()
    row = pdf.iloc[0]
    assert row["files_before"] > row["files_after"]
    assert row["checksum_ok"] == 1


def test_mixture_epochs_caps_hold(spark):
    """repeat_factor ∈ (0, MAX_EPOCHS]; sampled ≤ 4·tokens and ≤
    uniform target."""
    from engine.curation import MIXTURE_MAX_EPOCHS

    pdf = engine.QUERIES["llm_mixture_epochs"](spark, SF_DIR).toPandas()
    assert (pdf["repeat_factor"] > 0).all()
    assert (pdf["repeat_factor"] <= MIXTURE_MAX_EPOCHS).all()
    assert (pdf["sampled_tokens"] <= MIXTURE_MAX_EPOCHS * pdf["tokens"]).all()
