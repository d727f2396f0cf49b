"""Invariant tests for the training-pipeline operators
(engine.pipeline_ops) against independent Python recomputations on the
fixtures — a second witness besides the DuckDB oracles, checking the
*semantics* (coverage, conservation, portability of the hash) rather
than cross-engine agreement.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

import engine  # noqa: F401  (registers queries)
from engine.multimodal import AUDIO_FRAME
from engine.pipeline_ops import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    PACK_WINDOW,
)
from engine.registry import QUERIES
from tests.conftest import SF_DIR


def _docs_pdf(spark) -> pd.DataFrame:
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "text")
        .toPandas()
    )


def test_chunk_split_covers_every_token(spark):
    """Chunks tile each document: contiguous indices from 0, stride
    CHUNK_STRIDE, every token position inside ≥1 chunk, last chunk ends
    exactly at the document end."""
    docs = _docs_pdf(spark)
    got = QUERIES["llm_chunk_split"](spark, SF_DIR).toPandas()
    by_doc = {doc_id: g.sort_values("chunk_idx") for doc_id, g in got.groupby("doc_id")}
    assert set(by_doc) == set(docs["doc_id"])
    for _, row in docs.iterrows():
        n = len(row["text"].split(" "))
        g = by_doc[row["doc_id"]]
        k = (n - 1) // CHUNK_STRIDE + 1
        assert list(g["chunk_idx"]) == list(range(k))
        lens = list(g["chunk_len"])
        assert all(
            ln == min(CHUNK_SIZE, n - i * CHUNK_STRIDE)
            for i, ln in enumerate(lens)
        )
        # coverage: chunk i spans [i*stride, i*stride+len); union = [0, n)
        covered = max(
            i * CHUNK_STRIDE + ln for i, ln in enumerate(lens)
        )
        assert covered == n


def test_seq_packing_conserves_tokens(spark):
    """Σ n_tokens over bins per lang == Σ doc token counts per lang;
    bin ids are contiguous from 0; n_docs sums to the corpus size."""
    docs = _docs_pdf(spark)
    docs["n_tok"] = docs["text"].str.split(" ").str.len()
    got = QUERIES["llm_seq_packing"](spark, SF_DIR).toPandas()
    for lang, g in got.groupby("lang"):
        want_tokens = int(docs.loc[docs["lang"] == lang, "n_tok"].sum())
        assert int(g["n_tokens"].sum()) == want_tokens
        bins = sorted(g["bin"])
        assert bins == list(range(len(bins)))
        # every full window boundary is reachable: total bins ≈ tokens/window
        assert len(bins) == math.floor((want_tokens - 1) / PACK_WINDOW) + 1 or (
            want_tokens == 0 and len(bins) == 0
        )
    assert int(got["n_docs"].sum()) == len(docs)


def test_stratified_sample_matches_python_md5(spark):
    """The sample is *portably* deterministic: an independent hashlib
    recomputation of the md5 bucket selects exactly the same rows."""
    docs = _docs_pdf(spark)
    rates = {"en": 64, "fr": 128, "es": 128}
    want = set()
    for _, row in docs.iterrows():
        h = hashlib.md5(str(row["doc_id"]).encode()).hexdigest()
        bucket = int(h[:2], 16)
        if bucket < rates.get(row["lang"], 192):
            want.add((row["doc_id"], bucket))
    got = QUERIES["llm_sample_stratified"](spark, SF_DIR).toPandas()
    assert set(zip(got["doc_id"], got["bucket"])) == want


def test_audio_features_match_python_recomputation(spark):
    """Frame energies recomputed in pure Python for a slice of docs."""
    docs = _docs_pdf(spark).head(25)
    got = (
        QUERIES["mm_audio_features"](spark, SF_DIR)
        .toPandas()
        .set_index("doc_id")
    )
    for _, row in docs.iterrows():
        data = row["text"].encode("utf-8")
        frames = [
            sum(b * b for b in data[i : i + AUDIO_FRAME])
            for i in range(0, len(data), AUDIO_FRAME)
        ]
        r = got.loc[row["doc_id"]]
        assert int(r["n_frames"]) == len(frames)
        assert int(r["peak_energy"]) == max(frames)
        assert int(r["total_energy"]) == sum(frames)
        rms = math.floor(
            math.sqrt(sum(frames) / len(data)) * 10_000 + 0.5
        ) / 10_000
        assert abs(float(r["rms"]) - rms) < 1e-12


def test_dedup_labels_memo_is_keyed_and_consistent(spark):
    """The process-local labels memo (VERDICT r5 item 6) must (a) hit on
    a second call for the same (application, sf_dir) — identity, not
    recompute — (b) key on sf_dir so different fixture dirs can never
    share a labeling, and (c) produce the SAME labeling either way (the
    memo is pure reuse, not a semantic fork)."""
    from engine.pipeline_ops import (
        _LABELS_MEMO,
        _neardup_edges,
        connected_components,
        dedup_labels,
    )
    from pyspark.sql import functions as F

    app = spark.sparkContext.applicationId
    _LABELS_MEMO.pop((app, SF_DIR), None)
    first = dedup_labels(spark, SF_DIR)
    assert dedup_labels(spark, SF_DIR) is first  # (a) memo hit
    assert (app, SF_DIR) in _LABELS_MEMO  # (b) keyed by (app, sf_dir)
    # (c) memoized labeling == a fresh un-memoized recomputation
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fresh = connected_components(
        d.select(F.col("doc_id").alias("u")),
        _neardup_edges(spark, SF_DIR),
    )
    assert (
        first.withColumnRenamed("label", "l1")
        .join(fresh.withColumnRenamed("label", "l2"), "u", "full")
        .filter(
            F.col("l1").isNull()
            | F.col("l2").isNull()
            | (F.col("l1") != F.col("l2"))
        )
        .count()
        == 0
    )


def test_char_shingles_chunking_matches_python_sliding_window(spark):
    """The chunked two-stage shingle transform (char_shingles cuts the
    text into SHINGLE_CHUNK-char chunks overlapping by NGRAM-1 so no
    substring call scans more than the chunk width — the naive full-text
    sliding window is O(len²) per doc because UTF8String.substring is
    O(start); see the giant-doc sweep) must emit EXACTLY the distinct
    set a plain Python sliding window produces, at every length that
    straddles a chunk boundary: one below/at/above the stride, a
    multiple of it, and in-between. Characters are drawn from a small
    alphabet so duplicate shingles across chunks exercise the distinct."""
    from engine.pipeline_ops import NGRAM, SHINGLE_CHUNK, char_shingles

    C = SHINGLE_CHUNK
    lengths = [
        NGRAM,  # exactly one shingle
        NGRAM + 1,
        C - 1, C, C + 1,  # around one stride
        C + NGRAM - 2, C + NGRAM - 1, C + NGRAM,  # around one chunk's reach
        2 * C, 2 * C + 3,  # two boundaries
    ]
    # Mixed-width alphabets: chunk offsets are CHARACTER positions, and
    # multi-byte characters are exactly where UTF8String's byte/char
    # offset arithmetic can diverge — even-numbered docs use 1-byte
    # chars, odd-numbered mix 2- and 3-byte ones.
    alphabets = ["abcde ", "aé⊕b é"]
    rows = []
    for i, n in enumerate(lengths):
        alphabet = alphabets[i % 2]
        body = "".join(alphabet[(j * 7 + i) % len(alphabet)] for j in range(n))
        rows.append((i, "en", body))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["doc_id"], r["token"])
        for r in char_shingles(df).collect()
    }
    want = {
        (i, body[j : j + NGRAM])
        for i, _, body in rows
        for j in range(len(body) - NGRAM + 1)
    }
    assert got == want
    # and per-doc rows are distinct (array_distinct survives chunking)
    assert char_shingles(df).count() == len(want)
    # short-doc guard unchanged: below NGRAM chars emits nothing
    tiny = spark.createDataFrame(
        [(99, "en", "abcd")], "doc_id long, lang string, text string"
    )
    assert char_shingles(tiny).count() == 0


def test_pair_recall_scores_hand_built_pair_sets(spark):
    """The near-dup recall scorer (engine.curation.pair_recall) on
    hand-built (doc_a, doc_b) pair frames: one shared pair out of two on
    each side scores 0.5/0.5; an empty approximate side has no precision
    and zero recall; two empty sides have neither score."""
    from engine.curation import pair_recall

    schema = "doc_a long, doc_b long"
    exact = spark.createDataFrame([(1, 2), (3, 4)], schema)
    approx = spark.createDataFrame([(1, 2), (5, 6)], schema)
    empty = spark.createDataFrame([], schema)

    assert pair_recall(exact, approx) == (2, 2, 1, 0.5, 0.5)
    assert pair_recall(exact, empty) == (2, 0, 0, None, 0.0)
    assert pair_recall(empty, empty) == (0, 0, 0, None, None)
