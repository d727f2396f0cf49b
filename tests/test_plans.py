"""Physical-plan assertions (SURVEY.md §4 checklist).

The engine writes zero custom optimizer rules and instead *relies* on
Catalyst/AQE for pushdown, pruning, join selection, top-k, and two-phase
aggregation — so these tests pin that reliance down: if a future edit
breaks predicate pushdown or degrades a dimension join to a shuffle,
the plan (not just the timing) fails the build. This is the 100 TB
evidence: the properties asserted here are exactly the ones that decide
whether a plan survives a 1000-executor run.

Plans are inspected via ``df.explain`` output (public API), no execution.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest

import engine

SF_DIR = "/root/testdata/sf0.001"


def plan(spark, qid: str, mode: str = "formatted") -> str:
    df = engine.QUERIES[qid](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    """The shipdate predicate must reach the Parquet scan as a pushed
    filter (row-group/page pruning at 100 TB) — not live in a Filter
    operator alone."""
    p = plan(spark, "scan_filter_pushdown")
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_scan_schema(spark):
    """A 4-column projection must scan 4 columns, not the 16-column
    lineitem schema."""
    p = plan(spark, "scan_parquet")
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema, "scan reads unprojected columns"


def test_dimension_joins_broadcast(spark):
    """Star-schema dimension joins must be broadcast — a shuffle of the
    fact table against a 25-row dimension is the canonical scale bug."""
    p = plan(spark, "join_broadcast_dims")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_no_cartesian_in_equi_joins(spark):
    """Equi and theta joins with an equality component must never plan a
    cartesian product; only join_cross (bounded 25×5 grid) may."""
    for qid in (
        "join_sortmerge_fact",
        "join_left_outer",
        "join_semi",
        "join_anti",
        "join_range_theta",
        "join_asof",
        "llm_jaccard_neardup",
    ):
        p = plan(spark, qid)
        assert "CartesianProduct" not in p, f"{qid} plans a cartesian product"


def test_topk_plans_take_ordered(spark):
    """Global ORDER BY + LIMIT must plan TakeOrderedAndProject (per-
    partition top-k + driver merge), not a full sort."""
    p = plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in p


def test_agg_is_two_phase(spark):
    """The flagship aggregation must be partial+final hash aggregation
    (map-side combine before the shuffle)."""
    p = plan(spark, "agg_pricing_summary")
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p or "Partial" in p


def test_agg_whole_stage_codegen(spark):
    """Scan→filter→project→partial-agg must fuse into whole-stage
    codegen (JVM-side, no interpreted row loop). AQE wraps the unexecuted
    plan in an opaque AdaptiveSparkPlan, so momentarily disable it —
    codegen fusion is orthogonal to adaptive re-planning."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(spark, "agg_pricing_summary", mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p
    assert "Found 0 WholeStageCodegen" not in p


def test_window_has_partition_spec(spark):
    """Window queries must partition (no global single-partition window
    — the classic OOM at scale)."""
    p = plan(spark, "win_ranking")
    assert "Window" in p
    assert "SinglePartition" not in p


def test_exact_dedup_partial_agg(spark):
    """Hash-groupBy dedup must map-side combine: partial aggregate on
    md5 before the shuffle."""
    p = plan(spark, "llm_exact_dedup")
    assert p.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "qid", ["agg_pricing_summary", "join_broadcast_dims", "win_ranking"]
)
def test_aqe_enabled(spark, qid):
    """AdaptiveSparkPlan must wrap every query (runtime re-planning:
    partition coalescing, skew splits, join-strategy switches)."""
    p = plan(spark, qid, mode="simple")
    assert "AdaptiveSparkPlan" in p


def test_bucketed_join_eliminates_shuffle(spark):
    """Bucketing both fact tables on the join key at write time removes
    the shuffle from the join entirely — the 100 TB co-location story:
    a recurring orders⋈lineitem pipeline pays the shuffle once at ingest,
    not per query. Asserted: the bucketed join plans no Exchange."""
    import shutil
    from pyspark.sql import functions as F

    from engine.session import load

    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").format("parquet").mode("overwrite").saveAsTable("b_orders")
    load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").format("parquet").mode("overwrite").saveAsTable("b_lineitem")
    try:
        # Disable auto-broadcast: at sf0.001 both sides fit the 10 MB
        # threshold, but the property under test is the two-large-facts
        # regime where broadcast is off the table.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("simple")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join still shuffles"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_subqueries_decorrelate_to_joins(spark):
    """Catalyst must rewrite the SQL-surface subqueries into joins —
    EXISTS/NOT EXISTS to semi/anti, the correlated scalar aggregate to
    an aggregate + outer join — never per-outer-row re-execution (the
    difference between O(n) and O(n·m) at scale)."""
    p = plan(spark, "sql_exists_subquery")
    assert "Semi" in p and "Anti" in p
    assert "BroadcastNestedLoopJoin" not in p
    p2 = plan(spark, "sql_scalar_subquery")
    assert "LeftOuter" in p2, "scalar subquery not decorrelated to a join"


def test_sessionize_single_exchange(spark):
    """Both window passes AND the per-session aggregate must share one
    user_id shuffle — a second Exchange would double the sessionizer's
    network cost at 100 TB."""
    p = plan(spark, "win_sessionize")
    assert p.count("Exchange (") == 1, "sessionizer introduced extra shuffles"


def test_q18_takeordered_and_aggregate_first(spark):
    """Q18's top-100 must plan TakeOrderedAndProject, and the selective
    HAVING aggregate must collapse lineitem before the dimension joins
    (the scan reads only the 2 aggregate columns)."""
    p = plan(spark, "q18_large_volume")
    assert "TakeOrderedAndProject" in p
    li_schema = p.split("lineitem.parquet]")[1].split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in li_schema and "l_quantity" in li_schema
    assert "l_extendedprice" not in li_schema


def test_q19_disjunct_extraction_pushes_brand_filter(spark):
    """Q19's OR-of-ANDs predicate spans both join sides and cannot be
    pushed whole; Catalyst must extract the per-side common denominator
    and push the brand disjunction into the part scan (without it, the
    scan reads every part at 100 TB and the residual filter does all
    the work post-join)."""
    p = plan(spark, "q19_disjunctive_pred")
    part_scan = p.split("part.parquet]")[1]
    pushed = part_scan.split("PushedFilters:")[1].split("]")[0]
    assert "p_brand" in pushed, "brand disjunction not pushed to part scan"
    assert "BroadcastHashJoin" in p


def test_bloom_runtime_filter_injected(spark):
    """join_bloom_prefilter's reason to exist: with the thresholds in
    the large-large regime, Catalyst must build a bloom over the
    selective orders side and inject might_contain into the lineitem
    scan (semi-join reduction before the shuffle)."""
    from engine.relational import bloom_confs, bloom_prefilter_frame

    with bloom_confs(spark):
        df = bloom_prefilter_frame(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        p = buf.getvalue()
        assert "might_contain" in p, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in p


def test_q9_broadcasts_all_dims_single_fact_shuffle(spark):
    """Q9's star join: the filtered part dim plus supplier/nation must
    all broadcast, and the p_name LIKE filter must be pushed into the
    part scan — the fact table shuffles once (against orders), never
    against a dimension."""
    p = plan(spark, "q9_product_profit")
    assert p.count("BroadcastHashJoin") >= 3
    part_scan = p.split("part.parquet]")[1]
    pushed = part_scan.split("PushedFilters:")[1].split("]")[0]
    assert "p_name" in pushed, "part name filter not pushed to scan"


def test_gopher_quality_is_map_only(spark):
    """The rule gate derives every metric from the split array via JVM
    higher-order functions — any Exchange in this plan means a shuffle
    crept into an embarrassingly-parallel operator."""
    p = plan(spark, "llm_gopher_quality")
    assert "Exchange" not in p, "map-only quality gate plans a shuffle"
    assert "BatchEvalPython" not in p, "quality gate fell into Python"


def test_shard_manifest_single_shuffle(spark):
    """The manifest is one hash aggregation on the shard key: exactly
    one Exchange (the map-side partial aggregate handles the rest), no
    Python, no window."""
    p = plan(spark, "llm_shard_manifest")
    assert p.count("Exchange (") == 1, "manifest needs exactly one shuffle"
    assert "BatchEvalPython" not in p


def test_rolling_median_filter_pushed_and_partitioned(spark):
    """The purchase pre-filter must reach the events scan as a pushed
    filter (19/20ths of the stream pruned before the window), and the
    window must partition on user_id — never a global sort."""
    p = plan(spark, "win_rolling_median")
    pushed = p.split("PushedFilters:")[1].split("]")[0]
    assert "event_type" in pushed, "purchase filter not pushed to scan"
    assert "windowspecdefinition(user_id" in p, "window not user-partitioned"


def test_q6_three_predicates_pushed_two_columns_scanned(spark):
    """Q6 is the pure pushdown benchmark: all three predicates must
    reach the lineitem scan and the read schema must carry only the
    filter/aggregate columns."""
    p = plan(spark, "q6_forecast_revenue")
    pushed = p.split("PushedFilters:")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan"
    schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in schema
    assert "l_orderkey" not in schema, "scan reads unneeded columns"


def test_q4_both_fact_scans_pruned(spark):
    """Q4's derived lineitem bound must be pushed — without it the semi
    join probes the full fact table (the round-3 7.6s→1.4s fix)."""
    p = plan(spark, "q4_order_priority")
    li_scan = p.split("lineitem.parquet]")[1]
    pushed = li_scan.split("PushedFilters:")[1].split("]")[0]
    assert "l_shipdate" in pushed, "derived shipdate bound not pushed"
    o_scan = p.split("orders.parquet]")[1]
    pushed_o = o_scan.split("PushedFilters:")[1].split("]")[0]
    assert "o_orderdate" in pushed_o


def test_no_scale_red_flags_any_query(spark):
    """Sweep every registered plan for patterns that break at scale:
    cartesian products, nested-loop joins, and data-sized global (single-
    partition) windows. Whitelists are justified inline — every entry is
    either bounded metadata or a deliberately-broadcast tiny side."""
    side_effecting = {
        # Building these runs their writes, read-backs and audit
        # collects in scratch dirs or databases (engine.roundtrip), and
        # the returned frame is the localized result.
        "source_csv_roundtrip",
        "source_json_roundtrip",
        "sink_partitioned_parquet",
        "sink_compaction",
        "source_xml_roundtrip",
        "sink_codec_audit",
        # scratch saveAsTable + ANALYZE + catalog read-back
        "maint_analyze_stats",
        "source_partitioned_read_prune",
        # custom Python-sink write + read-back audit
        "sink_python_datasource",
        # availableNow streaming replays (a memory sink; a keyed-overwrite
        # merge store) run to completion, then localized
        "stream_watermark_design",
        "stream_foreach_batch_merge",
        # noop-sink write to materialize the observed metrics
        # (engine/sql_surface.py)
        "df_observe_metrics",
        # CACHE TABLE ... UNCACHE lifecycle + localized result
        # (engine/sql_surface.py)
        "maint_cache_table",
    }
    # BroadcastNestedLoopJoin is correct when the broadcast side is
    # constant-bounded: a 1-row corpus-count, a ≤10-row probe set, a
    # 25×5 grid, or the K_IVF centroid set.
    bnlj_ok = {"join_cross", "llm_cosine_topk", "llm_tfidf_topterms",
               "llm_ann_ivf", "llm_quality_filter",
               # ≤5-row probe set broadcast into the range scan (the
               # same witness shape as llm_cosine_topk); 1-row corpus
               # anchor / vocab-count / totals broadcasts respectively
               "llm_ann_range", "events_rfm", "llm_bigram_surprisal",
               "llm_temperature_mixture",
               # composes llm_cosine_topk, inheriting its probe-bounded
               # (≤10-row broadcast) cross join
               "llm_ann_recall",
               # 1-row global min/max aggregate broadcast into the
               # bucketing projection
               "agg_histogram",
               # 1-row corpus stats (n_docs, avgdl) broadcast into the
               # per-doc scoring projection
               "llm_bm25_topk",
               # 1-row global average-balance aggregate broadcast into
               # the customer filter
               "q22_dormant_customers",
               # 1-row grand-total threshold aggregate broadcast into
               # the per-part filter
               "q11_important_stock",
               # 1-row tercile-boundary aggregate (b1, b2) broadcast
               # into the bucketing projection
               "llm_quality_buckets",
               # 1-row corpus-token-total aggregate broadcast into the
               # per-token scoring projection
               "llm_unigram_surprisal",
               # 1-row user-day-total aggregate broadcast into the
               # pair-lift projection (engine/timeseries.py
               # events_cooccurrence: n_ud denominator)
               "events_cooccurrence",
               # alphabet-bounded (5-row) per-type moments table
               # broadcast into its own triangular pair join
               # (engine/timeseries.py events_ab_welch)
               "events_ab_welch",
               # 1-row (total, k) global-token aggregate broadcast
               # into the per-source epoch planner (engine/curation.py
               # llm_mixture_epochs)
               "llm_mixture_epochs",
               # constant-bounded sketch plumbing: 4-row hash grid ×
               # fact (equi-agg), then 5-probe × 4-row × 256-cell
               # lookups (engine/aggregates.py agg_countmin_sketch)
               "agg_countmin_sketch",
               # 10-pair literal grid × ≤2⁵-row mask histogram
               # (engine/timeseries.py events_user_overlap_jaccard)
               "events_user_overlap_jaccard",
               # absolutely-capped (doc_id<100) witness pair join —
               # the VERDICT-r3 witness rule (engine/curation.py
               # llm_edit_distance_dedup)
               "llm_edit_distance_dedup",
               # 2-row lag-constant grid broadcast into the day-grain
               # rollup (engine/timeseries.py ts_autocorr)
               "ts_autocorr",
               # 1-row digit-total aggregate broadcast into the 9-row
               # histogram (engine/aggregates.py agg_benford_audit)
               "agg_benford_audit",
               # k-grid × active-days-histogram tail-sum product, both
               # sides metadata-sized (engine/timeseries.py
               # events_survival_curve)
               "events_survival_curve",
               # 1-row (dmin, dmax) span broadcast clipping the ×7
               # contribution fan-out (engine/timeseries.py events_dau_wau)
               "events_dau_wau",
               # 1-row (na, nb) sample-size broadcast into the merged-
               # support gap scan (engine/curation.py llm_length_ks_audit)
               "llm_length_ks_audit",
               # 1-row overflow-probe aggregate crossed with the 1-row
               # main aggregate (engine/aggregates.py agg_try_aggregates)
               "agg_try_aggregates",
               # 1-row (tot, k) totals broadcast into the alphabet-sized
               # label grid (engine/multimodal.py mm_label_balance_chi2)
               "mm_label_balance_chi2",
               # 1-row global-count broadcast feeding the integer rank
               # remap; the remap join itself is EQUI (engine/windows.py
               # win_quantile_normalize)
               "win_quantile_normalize"}
    # An unpartitioned window is acceptable only over metadata-bounded
    # input. Currently empty: round 1's entries (llm_jaccard_neardup,
    # llm_lsh_neardup) no longer plan any Window at all, and keeping
    # them whitelisted would exempt exactly the queries the check was
    # written for (ADVICE r1).
    global_window_ok: set[str] = set()
    for qid in sorted(engine.QUERIES):
        if qid in side_effecting:
            continue
        p = plan(spark, qid)
        if qid != "join_cross":
            assert "CartesianProduct" not in p, f"{qid}: cartesian product"
        if qid not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in p, f"{qid}: BNLJ"
        if qid not in global_window_ok:
            # SinglePartition exchanges from ungrouped final aggregates
            # are fine; a Window over one reports both markers.
            if "Window" in p and "SinglePartition" in p:
                assert "windowspecdefinition()" not in p, (
                    f"{qid}: global window"
                )


def test_exact_witness_absolute_caps_pushed(spark):
    """The two exact all-pairs witnesses must bound their population by
    an ABSOLUTE doc_id cap (constant work at any corpus size — VERDICT
    r3 wrong #1/#2), and the cap must reach the parquet scan as a
    pushed range predicate. The oracle carries the identical subset."""
    from engine.llm_ops import JACCARD_WITNESS_MAX_ID
    from engine.pipeline_ops import NGRAM_WITNESS_MAX_ID, ngram_witness
    from engine.session import load

    w = ngram_witness(load(spark, SF_DIR, "documents"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        w.explain("formatted")
    pushed = buf.getvalue().split("PushedFilters:")[1].split("]")[0]
    assert f"LessThan(doc_id,{NGRAM_WITNESS_MAX_ID})" in pushed

    assert f"doc_id < {NGRAM_WITNESS_MAX_ID}" in (
        engine.ORACLES["llm_ngram_jaccard"]
    )
    assert f"doc_id < {JACCARD_WITNESS_MAX_ID}" in (
        engine.ORACLES["llm_jaccard_neardup"]
    )

    # The jaccard witness cap sits ahead of a localCheckpoint (the
    # final plan reads the checkpoint), so assert on the module source
    # (the registry decorator hides the function body from inspect).
    import engine.llm_ops as llm_ops_mod

    src = open(llm_ops_mod.__file__).read()
    body = src.split("def llm_jaccard_neardup")[1].split("\n@query")[0]
    assert "JACCARD_WITNESS_MAX_ID" in body


# The driver's correctness window, copied here so an edit to the
# literal in engine/__init__ (or a registry reorder) must be made twice.
_WINDOW = [
    "llm_ngram_novelty", "llm_ngram_lsh", "llm_lsh_neardup",
    "llm_dedup_clusters", "llm_dedup_survivors", "llm_dedup_recall",
    "llm_decontaminate_lsh", "llm_jaccard_neardup", "llm_ngram_jaccard",
    "llm_simhash_recall", "llm_embedding_neardup", "emb_banded_recall",
    "fn_hash", "win_ranking", "win_lag_lead", "win_topk_per_group",
    "win_first_last", "llm_winsorize_clip", "events_rfm", "agg_melt_nulls",
    "join_calendar_dim", "join_bucketed_colocated", "join_dpp_prune",
    "events_window_funnel", "ts_asof_nearest", "win_ratio_to_report",
    "stream_foreach_batch_merge", "agg_grouping_sets_df", "q8_market_share",
    "q6_forecast_revenue", "q15_top_supplier", "q17_small_quantity",
    "win_range_interval", "sql_exists_subquery", "agg_histogram",
    "join_bloom_prefilter", "win_gap_islands", "q10_returned_items",
    "stream_sliding", "stream_session", "stream_watermark_design",
    "stream_user_state", "stream_tumbling", "udf_pandas_grouped_agg",
    "q3_shipping_priority", "q5_local_supplier_volume", "q7_nation_volume",
    "q14_promo_revenue", "q19_disjunctive_pred", "q22_dormant_customers",
]


def test_round15_correctness_window():
    """The first 50 registered queries are exactly the window literal,
    in order; the driver's reports are sound 50-row dicts of registered
    ids; and no rows-only query holds a window slot past the 12
    changed-code ones (a re-check cannot lift it past the rows-only
    tier)."""
    import glob
    import json
    import os
    import re

    ids = list(engine.QUERIES)
    assert ids[:50] == _WINDOW == engine._WINDOW
    assert len(set(ids[:50])) == 50
    for qid in ids[12:50]:
        assert qid in engine.ORACLES, f"{qid}: rows-only op in fill slot"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds_seen = []
    for p in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rounds_seen.append(int(m.group(1)))
        with open(p) as f:
            rows = json.load(f)
        assert isinstance(rows, dict) and len(rows) == 50, (
            f"{p}: driver report is not a 50-row dict"
        )
        unknown = [q for q in rows if q not in engine.QUERIES]
        assert not unknown, f"{p}: unregistered qids {unknown}"
    assert rounds_seen[:14] == list(range(1, 15)), (
        "a pre-r15 driver report went missing"
    )


def test_no_query_lives_in_a_round_named_module():
    """Queries live in domain modules: none registers from an
    ``engine.seeds*`` module, no ``engine/seeds*.py`` file exists, and
    the registering modules are exactly the domain modules."""
    import glob
    import os

    assert not [
        qid
        for qid, fn in engine.QUERIES.items()
        if fn.__module__.startswith("engine.seeds")
    ]
    pkg = os.path.dirname(engine.__file__)
    assert not glob.glob(os.path.join(pkg, "seeds*.py"))
    assert {fn.__module__ for fn in engine.QUERIES.values()} == {
        f"engine.{m}"
        for m in (
            "aggregates", "curation", "functions", "graph", "llm_ops",
            "multimodal", "pipeline_ops", "relational", "scale_ops",
            "sql_surface", "streaming", "timeseries", "tpch", "udx",
            "windows",
        )
    }

def test_no_untested_op_registers_past_window():
    """Window-budget assertion (VERDICT r4 item 6): a refactor must never
    silently push a never-driver-checked operator past the driver's
    50-row correctness cap. Every registered qid must either already
    have a driver row in some CORRECTNESS_r*.json or sit inside the
    first-50 window."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver_checked: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as f:
            driver_checked.update(json.load(f).keys())
    assert driver_checked, "no CORRECTNESS_r*.json found"
    ids = list(engine.QUERIES)
    for i, qid in enumerate(ids):
        if i < 50 or qid in driver_checked:
            continue
        mod = engine.QUERIES[qid].__module__
        raise AssertionError(
            f"{qid} ({mod}) at position {i + 1} has no driver row and "
            "is past the 50-row window — it would be silently untested"
        )


def test_calendar_dim_join_broadcasts_day_aggregate(spark):
    """join_calendar_dim's left-outer calendar⋈day_agg must be a
    BroadcastHashJoin with the DAY AGGREGATE on the build side — the
    fact is reduced to day grain before the join, so no fact-sized
    shuffle reaches the calendar (the property that holds at 100 TB)."""
    import re

    p = plan(spark, "join_calendar_dim")
    assert "BroadcastHashJoin LeftOuter BuildRight" in p
    # two orders scans only (span + day_agg), counted in the detail
    # section ("(n) Scan parquet" lines — the tree repeats them)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2


def test_interval_overlap_has_no_theta_join(spark):
    """join_interval_overlap exists to PROVE the binning rewrite: the
    plan must contain the explode (bin decomposition) and no
    nested-loop/cartesian interval comparison anywhere."""
    p = plan(spark, "join_interval_overlap")
    assert "Generate" in p and "explode" in p, "bin decomposition missing"
    assert "Join" not in p, "binning rewrite must leave NO join at all"


def test_corr_matrix_single_fact_scan(spark):
    """agg_corr_matrix computes all six correlations in ONE aggregate
    pass — exactly one lineitem scan in the plan, partial aggregation
    map-side."""
    import re

    p = plan(spark, "agg_corr_matrix")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "HashAggregate" in p


def test_pct_change_windows_the_rollup_not_the_fact(spark):
    """win_pct_change must aggregate to (type, day) BEFORE the lag
    window: the Window node sits above a HashAggregate, partitioned by
    event_type — never a sort of the raw fact."""
    p = plan(spark, "win_pct_change", mode="extended")
    assert "windowspecdefinition(event_type" in p
    # physical order: aggregate below the window
    phys = p.split("== Physical Plan ==")[1]
    assert phys.index("HashAggregate") > phys.index("Window"), (
        "window not above the day-grain aggregate"
    )


def test_bucketed_join_is_exchange_free(spark):
    """join_bucketed_colocated's whole point: with both fact tables
    bucketed+sorted on the join key, the sort-merge join reads the
    buckets directly — NO Exchange on either join key anywhere in the
    plan, and both scans report bucket pruning metadata. This is the
    pay-once layout that makes a recurring 100 TB fact⋈fact join
    shuffle-free."""
    from engine.relational import build_bucketed_join
    from engine.roundtrip import scratch_database

    with scratch_database(spark, "bkt_scratch_") as db:
        res = build_bucketed_join(spark, SF_DIR, db)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            res.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert p.count("SelectedBucketsCount: 8 out of 8") == 2
        assert "Exchange hashpartitioning(l_orderkey" not in p
        assert "Exchange hashpartitioning(o_orderkey" not in p


def test_dpp_prunes_fact_partitions(spark):
    """join_dpp_prune's fact scan must carry BOTH a static IN filter on
    the partition column (pushed through the join from the dim filter)
    and a dynamicpruningexpression (runtime partition pruning from the
    dim build side) — only the 2 matching year directories of the
    7-year fact are ever read."""
    from engine.relational import build_dpp_join
    from engine.roundtrip import scratch_dir

    with scratch_dir("dpp_") as out:
        res = build_dpp_join(spark, SF_DIR, out)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            res.explain("formatted")
        p = buf.getvalue()
        pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
        assert pf, "fact scan has no PartitionFilters"
        assert "dynamicpruningexpression" in pf[0]
        assert "IN (1996,1997)" in pf[0].replace(" ", "").replace(
            "IN(", "IN ("
        ) or "o_year" in pf[0]


def test_path_topk_takeordered_over_alphabet_agg(spark):
    """events_path_topk: the global top-k must plan
    TakeOrderedAndProject (per-partition top-k + driver merge) above a
    two-phase hash aggregate whose key space is the event-type cube —
    never a full sort of path rows."""
    p = plan(spark, "events_path_topk")
    assert "TakeOrderedAndProject" in p
    assert p.count("HashAggregate") >= 2


def test_asof_nearest_single_exchange(spark):
    """ts_asof_nearest: both direction windows AND the per-user
    aggregate must share ONE user_id exchange — the operator's whole
    design is that backward and forward nearest-match ride the same
    sorted pass."""
    p = plan(spark, "ts_asof_nearest")
    assert p.count("Exchange (") == 1, "as-of nearest introduced extra shuffles"


def test_skew_kurtosis_single_pass(spark):
    """agg_skew_kurtosis: one exchange, two-phase aggregation — the
    power sums must be map-combined partials (the whole point of the
    closed-form rewrite is single-pass streaming moments)."""
    p = plan(spark, "agg_skew_kurtosis")
    assert p.count("Exchange (") == 1
    assert p.count("HashAggregate") >= 2


def test_pareto_windows_share_partitioning(spark):
    """win_pareto_days: the day-grain aggregate shuffles once, then the
    ranking/cumulative windows and the final per-type aggregate share
    the event_type partitioning — ≤ 2 exchanges total."""
    p = plan(spark, "win_pareto_days")
    assert p.count("Exchange (") <= 2
    assert "Window" in p and "SinglePartition" not in p


def test_token_explode_is_spread_before_generate(spark):
    """The shared token/shingle producers repartition doc-grain rows
    BEFORE the row-expanding explode (engine.llm_ops.spread_docs): a
    compact upstream file (one row group ⇒ one split) must not serialize
    a ~100-200× expansion onto a single task. Pin (a) an Exchange
    hashpartitioning on doc_id upstream of the Generate, and (b) the
    width following the session's sized-to-data shuffle.partitions
    policy, not raw core count."""
    import contextlib as _ctx
    import io as _io

    from engine.llm_ops import tokens
    from engine.pipeline_ops import char_shingles
    from engine.session import load

    docs = load(spark, SF_DIR, "documents")
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for producer in (tokens, char_shingles):
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            producer(docs).explain("formatted")
        p = buf.getvalue()
        tree = p.split("(1) ")[0]  # indented tree header: parent above child
        assert "Generate" in tree, producer.__name__
        assert "Exchange" in tree.split("Generate", 1)[1], (
            f"{producer.__name__}: explode not fed by a repartition"
        )
        assert (
            f"hashpartitioning(doc_id#" in p
            and f", {width}), REPARTITION_BY_NUM" in p
        ), f"{producer.__name__}: spread width does not follow shuffle.partitions"


# Every query whose build writes scratch directories, creates catalog
# objects, runs a streaming sink or sets session confs around its
# result (engine.roundtrip owns that lifecycle).
SCRATCH_QUERIES = (
    "source_csv_roundtrip",
    "source_json_roundtrip",
    "sink_partitioned_parquet",
    "source_orc_roundtrip",
    "join_bucketed_colocated",
    "join_dpp_prune",
    "join_bloom_prefilter",
    "source_schema_evolution",
    "sink_compaction",
    "source_xml_roundtrip",
    "sink_codec_audit",
    "maint_analyze_stats",
    "maint_cache_table",
    "source_partitioned_read_prune",
    "sink_python_datasource",
    "source_avro_roundtrip",
    "source_text_roundtrip",
    "stream_watermark_design",
    "stream_foreach_batch_merge",
)


def test_scratch_queries_leave_nothing_behind(spark, tmp_path, monkeypatch):
    """Each scratch-using query, run once, leaves no directory under the
    temp root or the checkout's ``.scratch``, and no table, view or
    database in the catalog; its result still evaluates afterwards."""
    import tempfile
    from pathlib import Path

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    checkout_scratch = (
        Path(engine.__file__).resolve().parent.parent / ".scratch"
    )

    def scratch_entries() -> set[str]:
        return (
            set(os.listdir(checkout_scratch))
            if checkout_scratch.exists()
            else set()
        )

    def catalog() -> tuple[list[str], list[str]]:
        return (
            sorted(t.name for t in spark.catalog.listTables()),
            sorted(d.name for d in spark.catalog.listDatabases()),
        )

    scratch_before, catalog_before = scratch_entries(), catalog()
    for qid in SCRATCH_QUERIES:
        engine.QUERIES[qid](spark, SF_DIR).collect()
    assert os.listdir(tmp_path) == []
    assert scratch_entries() - scratch_before == set()
    assert catalog() == catalog_before
