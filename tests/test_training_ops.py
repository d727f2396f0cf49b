"""Invariant tests for the curation and time-series operators (beyond the
differential suite): internal-consistency properties that must hold on
ANY corpus, checked on the sf0.001 fixtures — the places a fixture-pass
could hide a logic bug (conservation totals, bucket boundary membership,
spine density, frame bounds).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

import engine
from engine.session import load
from engine.curation import BLOCK_TOKENS, N_SHARDS
from engine.windows import ROLL_MEDIAN_FRAME

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_count(spark):
    return load(spark, SF_DIR, "documents").count()


def test_shard_manifest_conserves_docs_and_tokens(spark, docs_count):
    """Shard assignment is a partition: doc counts sum to the corpus,
    every shard id is in [0, N_SHARDS), key ranges are consistent."""
    m = engine.QUERIES["llm_shard_manifest"](spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in m) == docs_count
    assert all(0 <= r["shard"] < N_SHARDS for r in m)
    assert all(r["min_doc_id"] <= r["max_doc_id"] for r in m)
    total_tokens = (
        load(spark, SF_DIR, "documents")
        .select(F.sum(F.size(F.split("text", " "))).alias("t"))
        .first()["t"]
    )
    assert sum(r["n_tokens"] for r in m) == total_tokens


def test_domain_mixture_shares_sum_to_one(spark):
    rows = engine.QUERIES["llm_domain_mixture"](spark, SF_DIR).collect()
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-3
    # weight × share ≈ target for every lang (reweighting identity)
    for r in rows:
        assert abs(r["sample_weight"] * r["token_share"] - 0.2) < 1e-3


def test_quality_buckets_partition_the_corpus(spark, docs_count):
    rows = engine.QUERIES["llm_quality_buckets"](spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == docs_count
    assert {r["bucket"] for r in rows} <= {"head", "middle", "tail"}
    # terciles of a CDF: tail ≤ middle ≤ head mean chars within a lang
    by_lang: dict[str, dict[str, float]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r["avg_chars"]
    for lang, b in by_lang.items():
        if {"tail", "head"} <= set(b):
            assert b["tail"] < b["head"], lang


def test_block_dedup_fractions_bounded(spark):
    rows = engine.QUERIES["llm_block_dedup"](spark, SF_DIR).collect()
    for r in rows:
        assert 0 <= r["n_dup_blocks"] <= r["n_blocks"]
        assert 0.0 <= r["retained_frac"] <= 1.0
    # every doc with ≥ BLOCK_TOKENS tokens appears exactly once
    n_eligible = (
        load(spark, SF_DIR, "documents")
        .filter(F.size(F.split("text", " ")) >= BLOCK_TOKENS)
        .count()
    )
    assert len(rows) == n_eligible


def test_rolling_median_within_frame_bounds(spark):
    """The median lies between the frame min/max, and the frame never
    exceeds its constant size (state-boundedness at any scale)."""
    df = engine.QUERIES["win_rolling_median"](spark, SF_DIR)
    assert df.filter(F.col("n_in_frame") > ROLL_MEDIAN_FRAME).count() == 0
    e = load(spark, SF_DIR, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_MEDIAN_FRAME - 1), W.currentRow)
    )
    bounds = e.select(
        "event_id",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    )
    joined = df.join(bounds, "event_id")
    bad = joined.filter(
        (F.col("rolling_median") < F.col("lo") - 1e-9)
        | (F.col("rolling_median") > F.col("hi") + 1e-9)
    ).count()
    assert bad == 0


def test_gap_fill_spine_is_dense_and_forward_filled(spark):
    """Per user: one row per day in [first, last] activity day; observed
    days carry their own close; gaps carry the previous observed value
    (never null after the first observed day)."""
    df = engine.QUERIES["ts_gap_fill"](spark, SF_DIR)
    per_user = df.groupBy("user_id").agg(
        F.count("*").alias("n"),
        (F.max("day") - F.min("day") + 1).alias("span"),
        F.sum("is_observed").alias("n_obs"),
    )
    assert per_user.filter(F.col("n") != F.col("span")).count() == 0
    # first spine day is always observed (spine starts at first activity)
    firsts = df.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy("day")),
    ).filter(F.col("rn") == 1)
    assert firsts.filter(F.col("is_observed") == 0).count() == 0
    assert df.filter(F.col("filled_value").isNull()).count() == 0


def test_gopher_pass_is_conjunction_of_flags(spark):
    df = engine.QUERIES["llm_gopher_quality"](spark, SF_DIR)
    bad = df.filter(
        F.col("pass_gopher")
        != (F.col("ok_len") * F.col("ok_word_len") * F.col("ok_common"))
    ).count()
    assert bad == 0


def test_unigram_surprisal_nonnegative_and_bounded(spark):
    """-ln p ≥ ~0 for every token (p ≤ 1), and a doc's mean never
    exceeds its max."""
    df = engine.QUERIES["llm_unigram_surprisal"](spark, SF_DIR)
    assert df.filter(F.col("avg_surprisal") < -1e-9).count() == 0
    assert (
        df.filter(
            F.col("avg_surprisal") > F.col("max_surprisal") + 1e-9
        ).count()
        == 0
    )
