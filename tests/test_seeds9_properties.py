"""Round-9 seed behavioral checks (SURVEY.md §5 layers 2/4): sketch
guarantees, recursion bounds, weighted-median invariants, and the
metadata-audit cross-check against DuckDB's parquet_metadata() that
stands in for source_rowgroup_stats' (impossible) view-level oracle.
"""

from __future__ import annotations

import duckdb
import pytest

import engine
from tests.conftest import SF_DIR


def test_countmin_never_underestimates(spark):
    """The Count-Min guarantee: est ≥ exact for every probe (the oracled
    flag re-checked as a property, not just a hash match)."""
    pdf = engine.QUERIES["agg_countmin_sketch"](spark, SF_DIR).toPandas()
    assert len(pdf) == 5
    assert (pdf["cm_est"] >= pdf["n_exact"]).all()
    assert (pdf["overestimates"] == 1).all()


def test_recursive_hierarchy_depth_bounded(spark):
    """Chain depth is bounded by log₇(max part key) — recursion must
    terminate well under any engine iteration cap."""
    import math

    pdf = engine.QUERIES["sql_recursive_hierarchy"](spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    max_key = pdf["start_key"].max()
    bound = int(math.log(max(max_key, 7), 7)) + 1
    assert pdf["chain_depth"].max() <= bound


def test_weighted_median_is_attained_and_central(spark):
    """The weighted median must be an attained price, and at least half
    the total weight must sit at-or-below it."""
    pdf = engine.QUERIES["agg_weighted_median"](spark, SF_DIR).toPandas()
    from engine.session import load
    import pyspark.sql.functions as F

    li = load(spark, SF_DIR, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    for _, row in pdf.iterrows():
        flag, med, tw = (
            row["l_returnflag"],
            int(row["wmedian_cents"]),
            int(row["total_weight"]),
        )
        part = li.filter(F.col("l_returnflag") == flag)
        attained = part.filter(F.col("price_c") == med).count()
        below = (
            part.filter(F.col("price_c") <= med)
            .agg(F.sum("w"))
            .collect()[0][0]
        )
        assert attained > 0, f"{flag}: median not an attained price"
        assert 2 * below >= tw, f"{flag}: not a median"


def test_rowgroup_stats_match_duckdb_metadata(spark):
    """source_rowgroup_stats is declared rows-only (no view-level oracle
    can see file layout); cross-check it against DuckDB's
    parquet_metadata() of the same file instead."""
    pdf = (
        engine.QUERIES["source_rowgroup_stats"](spark, SF_DIR)
        .toPandas()
        .sort_values("row_group")
        .reset_index(drop=True)
    )
    meta = duckdb.sql(
        f"""
        SELECT row_group_id, row_group_num_rows,
               CAST(stats_min_value AS BIGINT) AS mn,
               CAST(stats_max_value AS BIGINT) AS mx
        FROM parquet_metadata('{SF_DIR}/lineitem.parquet')
        WHERE path_in_schema = 'l_orderkey'
        ORDER BY row_group_id
        """
    ).fetchdf()
    assert len(pdf) == len(meta)
    assert (pdf["n_rows"].values == meta["row_group_num_rows"].values).all()
    assert (pdf["min_orderkey"].values == meta["mn"].values).all()
    assert (pdf["max_orderkey"].values == meta["mx"].values).all()


def test_overlap_jaccard_bounds(spark):
    """0 ≤ J ≤ 1 for all 10 pairs; intersection ≤ union."""
    pdf = engine.QUERIES["events_user_overlap_jaccard"](
        spark, SF_DIR
    ).toPandas()
    assert len(pdf) == 10
    assert (pdf["n_both"] <= pdf["n_either"]).all()
    assert ((pdf["jaccard"] >= 0) & (pdf["jaccard"] <= 1)).all()


def test_arrow_udf_uses_arrow_eval_path(spark):
    """udf(useArrow=True) must plan as ArrowEvalPython — the Spark 4
    Arrow-optimized scalar path, distinct from BatchEvalPython (pickled)
    and the pandas UDF path (engine/seeds11.py udf_arrow_scalar)."""
    p = (
        engine.QUERIES["udf_arrow_scalar"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, "fell back to the pickled path"


def test_regr_r2_equals_corr_squared(spark):
    """Cross-operator invariant: regr_r2 must equal the square of the
    Pearson correlation for the same (x, y) — ties agg_regr_family to
    the corr machinery."""
    from engine.session import load
    import pyspark.sql.functions as F

    e = load(spark, SF_DIR, "events").select(
        F.hour("ts").cast("double").alias("x"),
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double") / 100).alias(
            "y"
        ),
    )
    row = e.agg(
        F.regr_r2("y", "x").alias("r2"), F.corr("y", "x").alias("c")
    ).collect()[0]
    assert abs(row["r2"] - row["c"] ** 2) < 1e-9


def test_hll_merge_within_bound_flags(spark):
    pdf = engine.QUERIES["agg_hll_sketch_mergeable"](spark, SF_DIR).toPandas()
    assert (pdf["merged_within_bound"] == 1).all()
    assert (pdf["single_within_bound"] == 1).all()


def test_cache_table_reads_inmemory_relation(spark):
    """The cached read inside maint_cache_table must come from the
    columnar in-memory store — pin InMemoryRelation on a fresh CACHE
    TABLE of the same shape (engine/seeds14.py)."""
    from engine.session import load
    import pyspark.sql.functions as F

    e = load(spark, SF_DIR, "events").select("event_type")
    e.createOrReplaceTempView("pin_cache_src")
    try:
        spark.sql("CACHE TABLE pin_cache_c AS SELECT * FROM pin_cache_src")
        p = (
            spark.table("pin_cache_c")
            .groupBy("event_type")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemory" in p, p
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS pin_cache_c")
        spark.catalog.dropTempView("pin_cache_src")


def test_named_parameters_fold_and_push_down(spark):
    """Bound :parameters must fold to literals and reach the parquet
    scan as pushed filters (engine/seeds14.py sql_named_parameters)."""
    p = (
        engine.QUERIES["sql_named_parameters"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters:")[1].split("]")[0]
    assert "event_type" in pushed, pushed


def test_partitioned_read_prunes_to_one_partition(spark):
    """The year-partitioned re-read with a partition predicate must
    scan only the matching directory: the pruned scan reports ONE
    selected partition (engine/seeds15.py source_partitioned_read_prune
    — the static sibling of join_dpp_prune's dynamic pruning pin)."""
    import tempfile
    import shutil
    from pathlib import Path

    import pyspark.sql.functions as F
    from engine.sql_surface import PRUNE_YEAR
    from engine.session import load

    o = load(spark, SF_DIR, "orders")
    tmp = Path(tempfile.mkdtemp(prefix="prunepin_"))
    try:
        o.withColumn("yr", F.year("o_orderdate").cast("int")).write.mode(
            "overwrite"
        ).partitionBy("yr").parquet(str(tmp / "p"))
        back = spark.read.parquet(str(tmp / "p")).filter(
            F.col("yr") == PRUNE_YEAR
        )
        p = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in p
        assert f"(yr = {PRUNE_YEAR})" in p or f"yr#" in p, p
        # physical proof: exactly the rows of that one year survive
        n_all = o.filter(F.year("o_orderdate") == PRUNE_YEAR).count()
        assert back.count() == n_all
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_distribute_sort_by_shapes_exchange(spark):
    """DISTRIBUTE BY user_id + SORT BY must plan a user_id hash
    exchange followed by a per-partition (non-global) sort
    (engine/seeds15.py sql_distribute_sort_by)."""
    p = (
        engine.QUERIES["sql_distribute_sort_by"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning(user_id" in p, p
    assert "Sort [user_id" in p
    assert ", false, 0" in p, "SORT BY planned a global sort"


def test_geomean_never_exceeds_mean(spark):
    """AM-GM inequality: the geometric mean must be ≤ the arithmetic
    mean for every type (engine/seeds16.py agg_geomean)."""
    pdf = engine.QUERIES["agg_geomean"](spark, SF_DIR).toPandas()
    assert (pdf["geomean_cents"] <= pdf["mean_cents"] + 1e-9).all()


def test_dau_wau_bounds(spark):
    """WAU ≥ DAU for every day, and WAU never exceeds total users
    (engine/seeds16.py events_dau_wau)."""
    pdf = engine.QUERIES["events_dau_wau"](spark, SF_DIR).toPandas()
    assert (pdf["wau"] >= pdf["dau"]).all()


def test_named_window_single_window_operator(spark):
    """Both named specs share partition+order, so Catalyst must fuse
    all three functions into ONE Window operator over one exchange
    (engine/seeds16.py sql_named_window)."""
    p = (
        engine.QUERIES["sql_named_window"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning") == 1, p
