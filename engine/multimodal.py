"""Multimodal column operators: opaque binary payloads + typed metadata
processed with Arrow-batched Pandas UDFs (mapInPandas).

Design (per the 100 TB training-pipeline mandate): image/audio/video
payloads are opaque ``binary`` columns carried next to typed metadata;
decode / feature-extract / frame-sample run as ``mapInPandas`` over Arrow
record batches, so payload bytes never round-trip through row-at-a-time
Python and never hit the driver.

The container ships no image/audio codecs, so the *decode* step is
STUBBED: :func:`decode_image` raises ``NotImplementedError`` unless a
real decoder (PIL) is importable, and the pipelines below use the
deterministic byte-level fallback features instead. The Spark-side
plumbing — binary schema, Arrow batch iteration, typed output schema,
row-expanding frame sampling — is real and oracle-checked (payloads are
synthesized from ``documents.text`` utf-8 bytes, so byte-level features
are SQL-expressible).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import pround
from engine.registry import query
from engine.session import load

FRAME_STEP = 4  # sample every 4th frame


def decode_image(blob: bytes):  # pragma: no cover - stub by design
    """STUB: real image decoding needs a codec library not present in
    this environment. The call path is kept so a deployment with PIL
    installed decodes for real; everything else uses byte-level features.
    """
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires PIL; use byte-level fallback features"
        ) from exc
    import io

    import PIL.Image as Image

    return Image.open(io.BytesIO(blob))


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a multimodal table: (doc_id, payload binary, typed
    metadata). The payload is the utf-8 text bytes standing in for an
    encoded image/audio asset; metadata mirrors what an ingest service
    would attach."""
    d = load(spark, sf_dir, "documents")
    # NULL-payload rows are dropped at INGEST, the asset-pipeline
    # convention (a missing blob is a fetch failure, not a zero-byte
    # asset) — nulls-twin sweep: the Arrow feature extractors would
    # otherwise see None where bytes are promised.
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        (F.col("n_chars") % 64 + 1).cast("int").alias("meta_width"),
        (F.col("n_chars") % 48 + 1).cast("int").alias("meta_height"),
        F.size(F.split("text", " ")).cast("int").alias("meta_n_frames"),
    )


@query(
    "mm_image_features",
    oracle="""
    WITH d2 AS (
      SELECT ROW_NUMBER() OVER () AS rid, doc_id, text, n_chars
      FROM documents
    ), ch AS (
      SELECT rid, ORD(SUBSTRING(text, i, 1)) AS byte_val
      FROM (SELECT rid, text,
                   UNNEST(GENERATE_SERIES(1, LENGTH(text))) AS i
            FROM d2)
    )
    SELECT d.doc_id,
           CAST(d.n_chars % 64 + 1 AS INT) AS meta_width,
           CAST(d.n_chars % 48 + 1 AS INT) AS meta_height,
           CAST(LENGTH(d.text) AS BIGINT) AS n_bytes,
           CAST(SUM(ch.byte_val) AS BIGINT) AS byte_sum,
           ROUND(CAST(SUM(ch.byte_val) AS DOUBLE) / LENGTH(d.text), 4)
             AS byte_mean
    FROM d2 d JOIN ch USING (rid)
    GROUP BY d.rid, d.doc_id, d.n_chars, d.text
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract over binary payloads via mapInPandas.

    Each Arrow batch is processed vectorized in numpy (frombuffer over
    the payload bytes); the decode step is stubbed (see decode_image) and
    the deterministic byte-level features are emitted instead, which the
    oracle reproduces from the utf-8 source text. Batch shape: N rows in,
    N rows out, typed flat schema.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zero-byte payloads dropped, matching the oracle's inner
            # join over per-char rows (an empty doc produces none) and
            # keeping the mean divide off n=0 (zero-values sweep).
            pdf = pdf[
                pdf["payload"].map(len) > 0
            ].reset_index(drop=True)
            arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["payload"]]
            n_bytes = np.array([a.size for a in arrs], dtype=np.int64)
            byte_sum = np.array([int(a.sum()) for a in arrs], dtype=np.int64)
            byte_mean = np.floor(byte_sum / n_bytes * 10_000 + 0.5) / 10_000
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "meta_width": pdf["meta_width"],
                    "meta_height": pdf["meta_height"],
                    "n_bytes": n_bytes,
                    "byte_sum": byte_sum,
                    "byte_mean": byte_mean,
                }
            )

    mm = multimodal_table(spark, sf_dir)
    return mm.mapInPandas(
        feats,
        schema=(
            "doc_id long, meta_width int, meta_height int,"
            " n_bytes long, byte_sum long, byte_mean double"
        ),
    )


@query(
    "mm_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           MD5(text || ':' || CAST(f AS VARCHAR)) AS frame_key
    FROM (
      SELECT doc_id, text,
             UNNEST(GENERATE_SERIES(0, LEN(STRING_SPLIT(text, ' ')) - 1,
                                    {FRAME_STEP})) AS f
      FROM documents)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video-shaped payloads: every {FRAME_STEP}th
    frame index per document, emitted as one row per sampled frame.

    Row-expanding mapInPandas (N rows in → ΣM rows out) with a stable
    per-frame key (md5 of payload + index — the stand-in for a real
    frame content hash, since frame *decode* is stubbed). The oracle
    reproduces the expansion with generate_series.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_key = [], [], []
            for doc_id, payload, n_frames in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta_n_frames"]
            ):
                text = bytes(payload).decode("utf-8")
                for f in range(0, int(n_frames), FRAME_STEP):
                    out_doc.append(doc_id)
                    out_idx.append(f)
                    out_key.append(
                        hashlib.md5(f"{text}:{f}".encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_key": pd.Series(out_key, dtype="object"),
                }
            )

    mm = multimodal_table(spark, sf_dir)
    return mm.mapInPandas(
        sample, schema="doc_id long, frame_idx int, frame_key string"
    )


@query(
    "mm_payload_dedup",
    oracle="""
    SELECT MD5(text) AS payload_md5,
           MIN(doc_id) AS doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_bytes,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY MD5(text), LENGTH(text)
    """,
)
def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over binary payloads: md5 of the *bytes* (computed
    JVM-side on the binary column — no Python), min-doc_id survivor.
    The multimodal counterpart of llm_exact_dedup: at 100 TB this is how
    duplicate images/audio clips are dropped before feature extraction.
    """
    mm = multimodal_table(spark, sf_dir)
    return mm.groupBy(
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    ).agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_copies"),
    )


RESIZE_OUT = 4  # output grid: 4×4


@query(
    "mm_image_resize",
    oracle=f"""
    WITH d2 AS (
      SELECT ROW_NUMBER() OVER () AS rid, doc_id, text, n_chars
      FROM documents
    ), px AS (
      SELECT rid, doc_id,
             ORD(SUBSTRING(text,
               CAST((((p // {RESIZE_OUT}) * (n_chars % 12 + 8) // {RESIZE_OUT})
                      * (n_chars % 16 + 8)
                    + ((p % {RESIZE_OUT}) * (n_chars % 16 + 8) // {RESIZE_OUT})
                    ) % n_chars + 1 AS BIGINT),
               1)) AS v
      FROM (SELECT rid, doc_id, text, n_chars,
                   UNNEST(GENERATE_SERIES(0, {RESIZE_OUT * RESIZE_OUT - 1}))
                     AS p
            FROM d2)
    )
    SELECT doc_id,
           CAST({RESIZE_OUT} AS INT) AS out_w,
           CAST({RESIZE_OUT} AS INT) AS out_h,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM(v * v) AS BIGINT) AS pixel_sq_sum
    FROM px GROUP BY rid, doc_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image resize over binary payloads: the payload is
    interpreted as a W×H byte image (W = n%16+8, H = n%12+8 from the
    metadata, wrap-around indexed so any payload length works), resampled
    to a {RESIZE_OUT}×{RESIZE_OUT} thumbnail, and summarized by exact
    integer pixel sums.

    Completes the decode / feature-extract / resize / frame-sample
    multimodal quartet. Decode is stubbed (see decode_image); the
    resample itself is the real thing — vectorized numpy gather per
    Arrow batch inside mapInPandas, N rows in → N rows out, no Python
    per-pixel loops (the index grid is computed once per row as a numpy
    expression). At 100 TB this is the thumbnail/feature-downsample pass
    that runs after payload dedup and before feature extraction.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        o = RESIZE_OUT
        p = np.arange(o * o)
        j, i = p // o, p % o
        for pdf in batches:
            sums, sqsums = [], []
            for b in pdf["payload"]:
                a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                n = a.size
                if n == 0:
                    # zero-byte payload: no pixels to gather — NULL sums,
                    # matching the oracle (DuckDB's `% 0` is NULL, so its
                    # per-pixel values and SUMs all go NULL for the doc).
                    sums.append(None)
                    sqsums.append(None)
                    continue
                w, h = n % 16 + 8, n % 12 + 8
                idx = ((j * h // o) * w + (i * w // o)) % n
                pix = a[idx]
                sums.append(int(pix.sum()))
                sqsums.append(int((pix * pix).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_w": pd.Series([o] * len(pdf), dtype="int32"),
                    "out_h": pd.Series([o] * len(pdf), dtype="int32"),
                    "pixel_sum": pd.array(sums, dtype="Int64"),
                    "pixel_sq_sum": pd.array(sqsums, dtype="Int64"),
                }
            )

    mm = multimodal_table(spark, sf_dir)
    return mm.select("doc_id", "payload").mapInPandas(
        resize,
        schema=(
            "doc_id long, out_w int, out_h int,"
            " pixel_sum long, pixel_sq_sum long"
        ),
    )


EMB_QUANT = 10**6


# ---------------------------------------------------------------------------
# mm_embedding_centroids — per-label centroids over quantized embeddings
# ---------------------------------------------------------------------------


@query(
    "mm_embedding_centroids",
    oracle=f"""
    WITH q AS (
      SELECT label,
             UNNEST(generate_series(1, LEN(embedding))) - 1 AS dim,
             TRY_CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE)
                            * {EMB_QUANT}) AS BIGINT) AS qx
      FROM embeddings
    )
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(qx) AS DOUBLE) / COUNT(*) / {EMB_QUANT}, 6)
             AS centroid_comp
    FROM q GROUP BY 1, 2
    """,
)
def mm_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class-prototype primitive
    behind nearest-centroid classification, SemDeDup-style pruning, and
    IVF coarse quantizers — computed on (label, dimension) grain via
    posexplode.

    Determinism by QUANTIZATION, not luck: float components are floored
    to integer micro-units BEFORE summing, so the per-cell sums are
    exact bigints (order-independent — float summation order across
    partitions would otherwise make centroid components engine-varying
    at the ulp level, the same trap the zscore ADVICE documented). The
    dimension explode is a bounded ×64 fan-out feeding ONE map-combined
    aggregation; at 100 TB this is the standard mapInPandas-free way to
    mean-pool vectors (kmeans' iterative path shares the shape).
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        # Range-guarded quantization: a nonfinite or int64-overflowing
        # component (NaN/±Inf-poisoned batch, fp blowup upstream)
        # quantizes to NULL and drops out of the exact integer sum on
        # BOTH engines, instead of an ANSI overflow abort
        # (non-finite-embeddings sweep). The guard must run BEFORE
        # floor(): Spark's floor(double) returns BIGINT and silently
        # CLAMPS ±Inf/out-of-range to Long.MaxValue — a try_cast around
        # it never sees the overflow, Long.MaxValue enters the group
        # sum, and the second poisoned row in a cell aborts the job
        # with ARITHMETIC_OVERFLOW (caught by the nonfinite sweep, r8).
        # DuckDB's FLOOR stays DOUBLE and TRY_CAST nulls anything
        # outside int64, so the explicit [-2^63, 2^63) window below is
        # the exact Spark equivalent (NaN fails the between, ±Inf fail
        # the bounds, and every in-range double floors losslessly).
        F.expr(
            f"""case when cast(x as double) * {EMB_QUANT}
                          >= -9.223372036854776e18
                      and cast(x as double) * {EMB_QUANT}
                          < 9.223372036854776e18
                     then floor(cast(x as double) * {EMB_QUANT})
                     else cast(null as bigint) end"""
        ).alias("qx"),
    )
    return q.groupBy("label", "dim").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        pround(
            F.sum("qx").cast("double") / F.count("*") / EMB_QUANT, 6
        ).alias("centroid_comp"),
    )


# ---------------------------------------------------------------------------
# mm_label_balance_chi2 — dataset label-balance audit
# ---------------------------------------------------------------------------


@query(
    "mm_label_balance_chi2",
    oracle="""
    WITH g AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    )
    SELECT g.label, g.n,
           ROUND(CAST(g.n AS DOUBLE) / t.tot, 6) AS share,
           ROUND((g.n * t.k - t.tot) * (g.n * t.k - t.tot)
                 / (CAST(t.k AS DOUBLE) * t.tot), 6) AS chi2_term
    FROM g CROSS JOIN t
    """,
)
def mm_label_balance_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance audit of the embedding corpus: per-class counts,
    shares, and each class's chi-square term against the uniform
    expectation — Σ terms is the χ² statistic a dataset card reports
    before anyone trains a classifier on skewed labels.

    The chi-square numerator is computed in the common-denominator
    integer form (n·k − tot)² — exact bigint — with one final double
    division per class (the ts_cusum_change scaling trick applied to
    goodness-of-fit). One label aggregation, a 1-row totals broadcast,
    alphabet-sized output.
    """
    emb = load(spark, sf_dir, "embeddings")
    g = emb.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    t = g.agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("k"),
    )
    j = g.crossJoin(F.broadcast(t))
    dev = F.col("n") * F.col("k") - F.col("tot")
    return j.select(
        "label",
        "n",
        pround(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
        pround(
            dev * dev / (F.col("k").cast("double") * F.col("tot")), 6
        ).alias("chi2_term"),
    )


AUDIO_FRAME = 32  # bytes per audio frame


@query(
    "mm_audio_features",
    oracle=f"""
    WITH d2 AS (
      SELECT ROW_NUMBER() OVER () AS rid, doc_id, text FROM documents
    ), ch AS (
      SELECT rid, CAST((i - 1) // {AUDIO_FRAME} AS INT) AS frame,
             ORD(SUBSTRING(text, i, 1)) AS v
      FROM (SELECT rid, text, UNNEST(GENERATE_SERIES(1, LENGTH(text))) AS i
            FROM d2)
    ), fr AS (
      SELECT rid, frame, SUM(v * v) AS e FROM ch GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS INT) AS n_frames,
           CAST(MAX(f.e) AS BIGINT) AS peak_energy,
           CAST(SUM(f.e) AS BIGINT) AS total_energy,
           ROUND(SQRT(CAST(SUM(f.e) AS DOUBLE) / LENGTH(d.text)), 4) AS rms
    FROM fr f JOIN d2 d USING (rid)
    GROUP BY f.rid, d.doc_id, LENGTH(d.text)
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped payload features: treat the binary payload as a PCM
    sample stream, frame it at {AUDIO_FRAME} bytes, and emit per-doc
    frame count, peak/total frame energy, and RMS amplitude.

    The *decode* step (real codecs: wav/mp3/flac) is stubbed exactly
    like image decode (engine.multimodal.decode_image — no codec libs in
    this container); payloads are synthesized utf-8 bytes, so the framed
    energy math is oracle-checkable in SQL. The Spark-side plumbing is
    the real thing: Arrow-batched mapInPandas, numpy `reduceat` for the
    per-frame aggregation (vectorized over the whole batch), typed flat
    output schema. Partial trailing frames count, matching the oracle's
    integer frame grouping.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "n_frames": [],
                "peak_energy": [],
                "total_energy": [],
                "rms": [],
            }
            for b in pdf["payload"]:
                a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                sq = a * a
                idx = np.arange(0, a.size, AUDIO_FRAME)
                frames = np.add.reduceat(sq, idx)
                total = int(sq.sum())
                rms = np.floor(
                    np.sqrt(total / a.size) * 10_000 + 0.5
                ) / 10_000
                out["n_frames"].append(len(frames))
                out["peak_energy"].append(int(frames.max()))
                out["total_energy"].append(total)
                out["rms"].append(rms)
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"],
                    "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                    "peak_energy": pd.Series(
                        out["peak_energy"], dtype="int64"
                    ),
                    "total_energy": pd.Series(
                        out["total_energy"], dtype="int64"
                    ),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                }
            )

    d = load(spark, sf_dir, "documents")
    # NULL payloads dropped at ingest — the engine.multimodal
    # convention (a missing blob is a fetch failure); nulls-twin sweep.
    # Zero-byte payloads dropped too: no samples → no frames, matching
    # the oracle's inner join over per-char rows (an empty doc produces
    # none), and keeping the RMS divide off n=0 (zero-values sweep).
    mm = d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select("doc_id", F.col("text").cast("binary").alias("payload"))
    return mm.mapInPandas(
        feats,
        schema=(
            "doc_id long, n_frames int, peak_energy long,"
            " total_energy long, rms double"
        ),
    )
