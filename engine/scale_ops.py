"""Scale-path operators for large training-data pipelines.

These are the 100 TB-shaped counterparts of engine.llm_ops' exact forms
(SURVEY.md §7.4) plus the text-analysis suite: MinHash-LSH banded
near-dup, SimHash signatures + banded Hamming near-dup, embedding-cosine
near-dup, LSH-bucketed approximate nearest neighbors, corpus-profile
language ID, token counting (whitespace + BPE-ish subword), continuous
quality scoring, and shingle fingerprinting.

Everything is deterministic by construction (hashes are md5 of explicit
strings; "random" hyperplanes are fixed arithmetic functions of (plane,
dim)), so every operator here carries a full DuckDB oracle — including
the LSH pipelines, whose banding is mirrored in SQL.

Scale notes: every pipeline is shuffle-based with per-key bounded state —
banding turns all-pairs O(n²) into O(Σ bucket²); no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from engine.det import pround
from engine.llm_ops import nondet_zero, token_arrays, tokens
from engine.lsh_core import (
    bucket_self_join,
    first_collision_guard,
    hot_bucket_sides,
    lsh_neardup_pairs,
    lsh_oracle,
)
from engine.registry import query
from engine.session import load
from engine.vec import cosine

SIMHASH_BITS = 32
ANN_PLANES = 8
COSINE_NEARDUP_T = 0.35  # fixture embeddings are near-orthogonal (max ~0.44)

@query("llm_lsh_neardup", oracle=lsh_oracle())
def llm_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banded near-dup: the 100 TB path for token Jaccard
    ≥ 0.8 (SURVEY.md §7.4). See :func:`lsh_neardup_pairs` for the plan;
    same output contract as llm_jaccard_neardup."""
    d = load(spark, sf_dir, "documents")
    return lsh_neardup_pairs(token_arrays(d), 0.8)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _hexdigit(dialect: str, j: int) -> str:
    """Value 0-15 of the j-th (1-based) hex char of md5(token)."""
    fn = "INSTR" if dialect == "spark" else "STRPOS"
    return f"({fn}('0123456789abcdef', SUBSTRING(MD5(token), {j}, 1)) - 1)"


def _bit(dialect: str, i: int) -> str:
    """Bit i (0-based) of md5(token), from hex digit i//4, bit i%4."""
    dv = _hexdigit(dialect, i // 4 + 1)
    if dialect == "spark":
        return f"(SHIFTRIGHT({dv}, {i % 4}) & 1)"
    return f"(({dv} >> {i % 4}) & 1)"


def _simhash_select(dialect: str) -> str:
    """SUM/CASE SimHash: s_i = Σ_tokens ±1 (tf-weighted via non-distinct
    explode); bit_i = s_i > 0; simhash = Σ bit_i·2^i."""
    terms = ", ".join(
        f"SUM(CASE WHEN {_bit(dialect, i)} = 1 THEN 1 ELSE -1 END) AS s{i:02d}"
        for i in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{i:02d} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH_BITS)
    )
    return terms, assemble


_, _SPARK_SIMHASH_ASSEMBLE = _simhash_select("spark")
_DUCK_SIMHASH_TERMS, _DUCK_SIMHASH_ASSEMBLE = _simhash_select("duck")

_DUCK_SIMHASH_CTE = f"""
    tokraw AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ), sums AS (
      SELECT doc_id, {_DUCK_SIMHASH_TERMS}
      FROM tokraw GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, {_DUCK_SIMHASH_ASSEMBLE} AS simhash FROM sums
    )
"""


def _simhash_df(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, simhash) via the same generated expressions, SQL front-end
    (SURVEY.md §3.3: SQL and DataFrame share one plan IR).

    The 32 md5-hex-digit bit extractions depend only on the token, so
    they are computed once per distinct vocabulary entry and joined back
    to occurrence rows (broadcast — same precompute pattern as
    engine.llm_ops.minhash_hashes) instead of per occurrence.

    ``docs`` overrides the corpus frame (default: the full documents
    table). A document's signature depends only on its own token
    frequencies, so signatures over a restricted frame equal the
    full-corpus signatures of those documents — the commutation the
    witness-restricted evaluator (llm_simhash_recall) relies on.

    Input is spread (engine.llm_ops.spread_docs) so the token explode
    parallelizes regardless of the scan's split count."""
    from engine.llm_ops import spread_docs

    spread_docs(
        docs if docs is not None else load(spark, sf_dir, "documents")
    ).createOrReplaceTempView("sh_docs")
    bit_cols = ", ".join(
        f"{_bit('spark', i)} AS b{i:02d}" for i in range(SIMHASH_BITS)
    )
    sum_cols = ", ".join(
        f"SUM(CASE WHEN b{i:02d} = 1 THEN 1 ELSE -1 END) AS s{i:02d}"
        for i in range(SIMHASH_BITS)
    )
    return spark.sql(
        f"""
        WITH tokraw AS (
          SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS token FROM sh_docs
        ), bits AS (
          SELECT token, {bit_cols}
          FROM (SELECT DISTINCT token FROM tokraw)
        ), sums AS (
          SELECT /*+ BROADCAST(bits) */ doc_id, {sum_cols}
          FROM tokraw JOIN bits USING (token)
          GROUP BY doc_id
        )
        SELECT doc_id, {_SPARK_SIMHASH_ASSEMBLE} AS simhash FROM sums
        """
    )


@query(
    "llm_simhash",
    oracle=f"""
    WITH {_DUCK_SIMHASH_CTE}
    SELECT doc_id, simhash FROM sig
    """,
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document.

    Portable definition: bit i of md5(token) (parsed hex-digit-wise, no
    engine-specific hex casts) contributes ±1 weighted by term frequency;
    the signature bit is the sign of the sum. One explode + one grouped
    aggregate — linear in corpus size, the near-dup sketch whose Hamming
    distance approximates cosine similarity of tf vectors.
    """
    return _simhash_df(spark, sf_dir)


@query(
    "llm_simhash_neardup",
    oracle=f"""
    WITH {_DUCK_SIMHASH_CTE},
    bands AS (
      SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS bv
      FROM sig, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                      b.doc_id AS doc_b, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
)
def llm_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup: Hamming distance ≤ 3 over 32-bit
    signatures.

    4 disjoint 8-bit bands: any pair within Hamming 3 shares at least one
    untouched band (pigeonhole), so the band-bucket join is *exact* for
    this radius — O(Σ bucket²) candidates instead of all-pairs, then a
    cheap popcount verify. The standard web-scale near-dup layout.
    """
    return simhash_neardup_pairs(_simhash_df(spark, sf_dir))


def simhash_neardup_pairs(sig: DataFrame) -> DataFrame:
    """Banded Hamming-≤3 pairs over a (doc_id, simhash) frame — the
    llm_simhash_neardup core, shared with the witness-restricted
    evaluator (llm_simhash_recall). Banding and verify are per-doc /
    pairwise, so pairs over a restricted signature frame equal the
    full-corpus pairs among those docs."""
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn("bv", F.expr("shiftright(simhash, b * 8) & 255"))
    a, b_ = bands.alias("a"), bands.alias("b")

    def _band(side: str, i: int) -> Column:
        return F.expr(f"shiftright({side}.simhash, {i * 8}) & 255")

    # Both signatures ride the band rows, so the lowest-colliding-band
    # guard is pure bit arithmetic on them.
    cand = a.join(
        b_,
        (F.col("a.b") == F.col("b.b"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & first_collision_guard(
            F.col("a.b"),
            lambda i: _band("a", i),
            lambda i: _band("b", i),
            4,
        ),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.simhash").alias("sim_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("b.simhash").alias("sim_b"),
    )
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return cand.filter(hamming <= 3).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Embedding similarity: exact near-dup + LSH-bucketed ANN
# ---------------------------------------------------------------------------

# Broadcast budget for the exact block-matmul path: vectors beyond this
# fall back to the banded-LSH pairing (64-dim f64 ≈ 0.5 KB/vec, so the
# cap keeps the broadcast side ≈ 1 GB — the same order as Spark's own
# broadcast-join comfort zone on a 4-8 GB executor).
BROADCAST_MAX_VECS = 2_000_000


def _emb_dim(emb: DataFrame) -> int:
    """Embedding dimensionality read from the data (a one-row driver
    scalar) — never a hardcoded constant: ``zip_with`` null-pads on
    length mismatch, so a fixture dim change would silently zero the
    hyperplane dots instead of failing loudly (ADVICE r1)."""
    row = emb.select("embedding").first()
    # Empty corpus: any positive width works — every consumer's joins
    # and blocks stay empty; 1 keeps plane/centroid expressions tiny.
    return len(row[0]) if row is not None else 1


def _hyperplane_dot(k: int, dim: int) -> Column:
    """⟨embedding, plane k⟩ for the deterministic hyperplane family
    (:func:`_plane_weight`), evaluated JVM-side via zip_with/aggregate."""
    return F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(_plane_weight(k, d)) for d in range(dim)]),
            lambda x, w: x.cast("double") * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Banded-path tuning. Bucket keyspace per band = 2^NEARDUP_BITS: random
# (uncorrelated) pairs collide in a band with p ≈ (1/2)^NEARDUP_BITS ·
# corrections, so expected random candidates ≈ N²·bands/2^bits — with 16
# bits and 8 bands that is ~N²/8192, i.e. ~5·10⁸ at the N=2·10⁶ gate
# where this path activates: bounded and distributed, vs the Θ(N²)
# 4-bucket banding this replaces (round-2 review finding). Recall for a
# pair at angle θ is 1-(1-p₁^bits)^bands with p₁ = 1-θ/π — tuned for the
# HIGH-similarity regime a production near-dup dedup targets (cosine
# ≥ 0.95 → p₁ ≈ 0.90 → ~67% per-pass recall; union a second plane seed
# to boost). Low-threshold exact search stays on the broadcast path.
NEARDUP_BANDS = 8
NEARDUP_BITS = 16


def _embedding_neardup_banded(
    emb: DataFrame, dim: int, hot_gate: bool = True
) -> DataFrame:
    """Banded-LSH pairing for cosine near-dup — the path taken when the
    corpus exceeds BROADCAST_MAX_VECS and the exact broadcast matmul
    would materialize the whole table on the driver.

    NEARDUP_BANDS bands × NEARDUP_BITS hyperplane sign bits packed into
    one long bucket key per band: candidates are pairs agreeing on some
    band, verified by exact JVM-side cosine. All shuffles key on
    (band, bucket) / vec_id — no driver materialization, no all-pairs
    join, and the bucket keyspace (2^NEARDUP_BITS per band) keeps the
    self-join quadratic only *within* buckets whose expected occupancy
    is N/2^bits; buckets above the shared hot-bucket bound
    (engine.lsh_core.HOT_BUCKET_ROWS) are 2-D-salted AUTOMATICALLY
    (the gate shared with the MinHash path,
    engine.lsh_core.hot_bucket_sides). Approximate recall is the documented
    contract of the scale path (as with llm_lsh_neardup), MEASURED by
    the oracled emb_banded_recall evaluator (engine/curation.py:
    recall ≈ 1 in the designed high-similarity regime, ≈ 0 on
    near-threshold organic pairs); the broadcast path below remains the
    exact witness at fixture scale.

    The 128 hyperplane dots per vector are ONE numpy
    (batch × dim)·(dim × 128) matmul per Arrow batch in mapInPandas
    (the broadcast path's pattern) — the same values the previous
    128 declarative zip_with folds computed, ~20× faster (measured
    17.8 s → sub-second on a 500-vector eval corpus) because the fold
    expressions re-materialized a 64-struct zipped array per plane per
    row. Summation order differs from a sequential fold only in the
    last ulp; a sign flip would need |dot| ≈ 1e-13 on O(1)-magnitude
    dots — the same tolerance every mirrored-oracle dot here already
    rides on (llm_ann_lsh precedent).

    r14 shape changes (candidate SET and output provably unchanged —
    optimization guide §2):
    - The signature stage emits DOC-grain rows (vec_id, abv[8]) and is
      localCheckpoint'd: the Python matmul runs ONCE instead of once
      per self-join side (the broadcast build side of a self-join is
      not a ReusedExchange, so the un-checkpointed form re-ran
      mapInPandas twice — visible as two MapInPandas nodes in
      plans/r14/emb_banded_pipeline_before.txt). Band rows explode
      in-plan from the checkpoint.
    - FIRST-COLLISION-BAND dedup replaces the candidate `.distinct()`
      (the lsh_core trick): each band row carries all its band hashes
      (abv), so the join keeps a pair only in its lowest colliding band
      — every colliding pair still emitted exactly once, and the
      candidate-pair-sized shuffle Exchange disappears from the plan.
    - The exact-cosine verify is pinned OUT of the join condition with
      nondet_zero (the llm_ops popcount pattern): before, the fold
      expression sat in the BroadcastHashJoin condition AND the output
      projection, evaluating the O(dim) dot twice per surviving pair.
    """
    planes = NEARDUP_BANDS * NEARDUP_BITS
    plane_mat = np.array(
        [[_plane_weight(k, d) for d in range(dim)] for k in range(planes)],
        dtype=np.float64,
    )

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = mat @ plane_mat.T > 0  # (n × planes) sign matrix
            bv = np.zeros((len(ids), NEARDUP_BANDS), dtype=np.int64)
            for b in range(NEARDUP_BANDS):
                seg = bits[:, b * NEARDUP_BITS : (b + 1) * NEARDUP_BITS]
                bv[:, b] = (
                    seg.astype(np.int64) << np.arange(NEARDUP_BITS)
                ).sum(axis=1)
            yield pd.DataFrame(
                {"vec_id": ids, "abv": list(bv)}
            )

    # Doc-grain signature rows, checkpointed lazily: the census action
    # below is the first consumer and materializes them as part of its
    # own job (the lsh_core pattern) — the Python matmul runs once.
    sigs = (
        emb.select("vec_id", "embedding")
        .mapInPandas(sig, schema="vec_id long, abv array<long>")
        .localCheckpoint(eager=False)
    )
    bands = sigs.select(
        "vec_id", "abv", F.posexplode("abv").alias("band", "bv")
    )
    # ``hot_gate=False`` skips the hot-bucket census and its job
    # (measured +0.43 s locally). The gate never changes the candidate
    # set, only how its pair space is split into tasks, so a caller whose
    # input is provably below the bound — emb_banded_recall's
    # ≤ 2·EMB_EVAL_CAP = 500-row eval corpus — skips it with no change in
    # output; the production >2M-vector caller keeps the default.
    sides = (
        hot_bucket_sides(bands, "vec_id", ["band", "bv"])
        if hot_gate
        else (bands.alias("a"), bands.alias("b"), F.lit(True))
    )
    cand = bucket_self_join(
        sides, "vec_id", ["band", "bv"], NEARDUP_BANDS
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    # nondet_zero pins the cosine fold to this projection so the
    # threshold filter cannot be pushed into the join condition (where
    # the O(dim) fold would evaluate once in the condition and AGAIN in
    # the output projection). Adding long 0 is exact; NULL (zero-norm
    # try_divide) propagates and fails the >= exactly as before.
    scored = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (cosine(F.col("ea"), F.col("eb")) + nondet_zero()).alias("cos"),
        )
    )
    return scored.filter(F.col("cos") >= COSINE_NEARDUP_T).select(
        "vec_a", "vec_b", pround(F.col("cos"), 4).alias("cosine")
    )


# Per-Python-worker corpus cache for the exact broadcast-witness path:
# keyed by (path, mtime, size) so a rewritten fixture invalidates. Spark
# reuses worker processes (spark.python.worker.reuse defaults true), so
# each worker pays the ≤BROADCAST_MAX_VECS parquet read once per corpus,
# exactly like a broadcast-variable fetch — but from storage, with no
# driver-side materialization or pickle (VERDICT r11 §wrong #1).
_NEARDUP_CORPUS: dict = {}


def _neardup_corpus(path: str):
    """(ids, matrix, row-norms²) of the corpus parquet, worker-cached.

    pyarrow read + one reshape of the flattened list<float> values — the
    fixture embedding column is fixed-width (reshape would raise loudly
    on ragged rows rather than mis-pair values).
    """
    import os as _os

    if _os.path.isdir(path):
        # Spark-written corpus: a DIRECTORY of part files. The
        # directory's own mtime/size do NOT change when a part file's
        # content is rewritten in place, so a long-lived reused worker
        # keyed on the dir stat could silently serve a stale corpus
        # (ADVICE r12). Key on the contained data files instead: any
        # rewrite, add, or remove of a part changes the tuple. The walk
        # RECURSES (ADVICE r13): a partitioned/nested layout keeps its
        # part files inside subdirectories which pq.read_table happily
        # reads, so a top-level-only scandir would miss the actual data
        # files and serve a stale corpus one level deeper.
        files = []
        # NOTE: don't wrap the walk in sorted() — that would exhaust
        # the generator before the dirs[:] pruning below could stop
        # descent into hidden/staging directories. Sorting happens once
        # at the end instead (relpaths are unique, so the key is
        # deterministic regardless of walk order).
        for root, dirs, names in _os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for n in names:
                if n.startswith((".", "_")):
                    continue
                st = _os.stat(_os.path.join(root, n))
                files.append(
                    (
                        _os.path.relpath(_os.path.join(root, n), path),
                        st.st_mtime_ns,
                        st.st_size,
                    )
                )
        key = (path, tuple(sorted(files)))
    else:
        st = _os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    hit = _NEARDUP_CORPUS.get(key)
    if hit is None:
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy().astype(np.int64)
        col = t.column("embedding").combine_chunks()
        mat = np.asarray(col.flatten(), dtype=np.float64).reshape(
            len(col), -1
        )
        hit = (ids, mat, (mat * mat).sum(axis=1))
        _NEARDUP_CORPUS.clear()  # one corpus per worker is the live set
        _NEARDUP_CORPUS[key] = hit
    return hit


@query(
    "llm_embedding_neardup",
    oracle=f"""
    WITH el AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ), d AS (
      SELECT va, vb,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE)) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE)) AS nb
      FROM el GROUP BY 1, 2
    )
    SELECT va AS vec_a, vb AS vec_b,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine
    FROM d
    WHERE dot / (SQRT(na) * SQRT(nb)) >= {COSINE_NEARDUP_T}
    """,
)
def llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ {T}).

    Exact all-pairs correctness witness (fixture embeddings are
    near-orthogonal; max pairwise cosine ≈ 0.44, so the 0.35 threshold
    yields a small nonempty pair set).

    Physical plan, size-gated: up to BROADCAST_MAX_VECS the corpus side
    is read WORKER-SIDE from the source parquet (cached once per Python
    worker process via :func:`_neardup_corpus` — the storage-layer
    analogue of a broadcast: every executor fetches the same small
    artifact from shared storage, no driver hop) and each Arrow batch
    computes a (batch × corpus) numpy dot-product block, emitting only
    over-threshold pairs — no shuffle, no quadratic materialization, and
    since VERDICT r11 §wrong #1 **no driver-side stage at all** (the
    former ``toPandas()`` + ``sparkContext.broadcast`` corpus pickle is
    gone). The r9-r11 in-bench swing this op was blamed for (1.29 s →
    6.8 s with zero code change) turned out NOT to be that stage: r12
    in-worker instrumentation traced it to numpy's MADV_HUGEPAGE on the
    block's fresh 32 MB arrays — THP direct-compaction stalls under
    memory fragmentation, fixed session-wide in
    :func:`engine.session.get_spark` (NUMPY_MADVISE_HUGEPAGE=0).
    Beyond the budget the query switches to
    :func:`_embedding_neardup_banded` (hyperplane-banded candidate join
    + exact cosine verify), so no corpus size ever forces a full-table
    materialization anywhere (VERDICT r1 §wrong #1).
    """
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > BROADCAST_MAX_VECS:
        return _embedding_neardup_banded(emb, _emb_dim(emb))
    if n == 0:
        # No pairs by definition — return the empty frame with the
        # same schema (the worker-side reader never runs).
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    corpus_path = f"{sf_dir}/embeddings.parquet"

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b, sq_b = _neardup_corpus(corpus_path)
        for pdf in batches:
            if pdf.empty:  # empty Arrow batch: np.stack needs ≥1 row
                continue
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # Same arithmetic as the oracle: raw dot / (√Σa²·√Σb²) in f64
            # (f32×f32 products are exact in f64, so only the summation
            # order can differ — last-ulp noise well below the 4-dp round).
            cos = (a_mat @ mat_b.T) / np.sqrt(
                np.outer((a_mat * a_mat).sum(axis=1), sq_b)
            )
            ii, jj = np.nonzero(
                (cos >= COSINE_NEARDUP_T) & (a_ids[:, None] < ids_b[None, :])
            )
            c = cos[ii, jj]
            yield pd.DataFrame(
                {
                    "vec_a": pd.Series(a_ids[ii], dtype="int64"),
                    "vec_b": pd.Series(ids_b[jj], dtype="int64"),
                    "cosine": pd.Series(
                        np.floor(c * 10_000 + 0.5) / 10_000, dtype="float64"
                    ),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        block, schema="vec_a long, vec_b long, cosine double"
    )


def _plane_weight(k: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1]:
    a fixed arithmetic function of (plane, dim) — portable to SQL."""
    return ((k * 97 + d * 31) % 101 - 50) / 50.0


@query(
    "llm_ann_lsh",
    oracle=f"""
    WITH el AS (
      SELECT vec_id, UNNEST(embedding) AS x,
             UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS d
      FROM embeddings
    ), proj AS (
      SELECT el.vec_id, k.k,
             SUM(CAST(x AS DOUBLE) *
                 ((((k.k * 97 + (d - 1) * 31) % 101) - 50) / 50.0)) AS dot
      FROM el, (SELECT UNNEST(GENERATE_SERIES(0, {ANN_PLANES - 1})) AS k) k
      GROUP BY 1, 2
    ), buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN (1 << k) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id
    ), cand AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id
      FROM buckets p JOIN buckets c
        ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
      WHERE p.vec_id < 10
    ), pel AS (
      SELECT cand.probe_id, cand.vec_id,
             UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.probe_id
      JOIN embeddings b ON b.vec_id = cand.vec_id
    ), dots AS (
      SELECT probe_id, vec_id,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE)) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE)) AS nb
      FROM pel GROUP BY 1, 2
    )
    SELECT probe_id, vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine, rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY dot / (SQRT(na) * SQRT(nb)) DESC, vec_id) AS rn
      FROM dots)
    WHERE rn <= 3
    """,
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors (scale path of
    llm_cosine_topk).

    8 deterministic random-hyperplane signs → 256 buckets; probes
    (vec_id < 10) retrieve only their own bucket, exact top-3 cosine
    within it. At 100 TB the bucket join replaces the corpus cross-join —
    candidates per probe are O(n/2^planes); recall tunes via
    multi-probe/more tables, parameters are constants above. Hyperplane
    weights are fixed arithmetic in (plane, dim) so the oracle mirrors
    them exactly in SQL.
    """
    emb = load(spark, sf_dir, "embeddings")
    dots = [_hyperplane_dot(k, _emb_dim(emb)) for k in range(ANN_PLANES)]
    bucket = None
    for k, dk in enumerate(dots):
        term = F.when(dk > 0, F.lit(1 << k)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    withb = emb.select("vec_id", "embedding", bucket.cast("bigint").alias("bucket"))
    probes = withb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("ea"),
        "bucket",
    )
    cands = withb.select("vec_id", F.col("embedding").alias("eb"), "bucket")
    j = probes.join(cands, "bucket").filter(F.col("probe_id") != F.col("vec_id"))
    cos = cosine(F.col("ea"), F.col("eb"))
    w = W.partitionBy("probe_id").orderBy(F.col("c").desc(), F.col("vec_id"))
    return (
        j.select("probe_id", "vec_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("probe_id", "vec_id", pround(F.col("c"), 4).alias("cosine"), "rn")
    )


# ---------------------------------------------------------------------------
# Text analysis suite
# ---------------------------------------------------------------------------


@query(
    "llm_lang_id",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), prof AS (
      SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT lang, COUNT(*) AS total FROM tok GROUP BY 1
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), scores AS (
      SELECT tf.doc_id, prof.lang AS cand_lang,
             SUM(tf.tf * LN(CAST(prof.cnt AS DOUBLE) / tot.total)) AS score
      FROM tf
      JOIN prof ON tf.token = prof.token
      JOIN tot ON prof.lang = tot.lang
      GROUP BY 1, 2
    ), ranked AS (
      SELECT doc_id, cand_lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand_lang) AS rn
      FROM scores
    )
    SELECT r.doc_id, d.lang AS actual_lang, r.cand_lang AS pred_lang,
           ROUND(r.score, 4) AS score,
           CAST(r.cand_lang = d.lang AS INT) AS correct
    FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
    WHERE r.rn = 1
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via corpus-learned token profiles.

    The classic n-gram-profile architecture (train per-language unigram
    log-probabilities, classify by argmax Σ tf·ln p) expressed as joins +
    aggregates. On the synthetic fixtures (identical vocabulary across
    languages) accuracy is near-chance by design — the operator contract
    is the deterministic pipeline, which at 100 TB is two shuffles (profile
    build broadcast-joins into the scoring pass).
    """
    d = load(spark, sf_dir, "documents")
    tok = tokens(d)
    prof = tok.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    tot = tok.groupBy("lang").agg(F.count("*").alias("total"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    scores = (
        tf.join(prof, "token")
        .join(tot, "lang")
        .groupBy("doc_id", F.col("lang").alias("cand_lang"))
        .agg(
            F.sum(
                F.col("tf")
                * F.log(F.col("cnt").cast("double") / F.col("total"))
            ).alias("score")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand_lang"))
    best = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    actual = d.select("doc_id", F.col("lang").alias("actual_lang"))
    return best.join(actual, "doc_id").select(
        "doc_id",
        "actual_lang",
        F.col("cand_lang").alias("pred_lang"),
        pround(F.col("score"), 4).alias("score"),
        (F.col("cand_lang") == F.col("actual_lang")).cast("int").alias("correct"),
    )


@query(
    "llm_token_count",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_ws_tokens,
           CAST(SUM(CAST(CEIL(LENGTH(token) / 4.0) AS BIGINT)) AS BIGINT)
             AS n_bpe_tokens,
           ROUND(CAST(SUM(LENGTH(token)) AS DOUBLE) / COUNT(*), 4)
             AS avg_token_chars
    FROM tok GROUP BY doc_id
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (⌈len/4⌉ pieces per token — the standard ~4-chars-per-token heuristic)
    and mean token length. Linear explode + aggregate."""
    d = load(spark, sf_dir, "documents")
    tok = tokens(d).select("doc_id", "token")
    return tok.groupBy("doc_id").agg(
        F.count("*").alias("n_ws_tokens"),
        F.sum(F.ceil(F.length("token") / 4.0)).alias("n_bpe_tokens"),
        pround(
            F.sum(F.length("token")).cast("double") / F.count("*"), 4
        ).alias("avg_token_chars"),
    )


@query(
    "llm_quality_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ), st AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT token) AS n_uniq
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           -- CAST to DOUBLE before the decimal literals: DuckDB otherwise
           -- evaluates 0.4 * ... in exact DECIMAL, diverging from Spark's
           -- double math at the rounding boundary
           ROUND(0.4 * CAST(LEAST(d.n_chars, 500) AS DOUBLE) / 500.0
               + 0.3 * CAST(LEAST(st.n_tok, 60) AS DOUBLE) / 60.0
               + 0.3 * (CAST(st.n_uniq AS DOUBLE) / st.n_tok), 4) AS quality
    FROM documents d JOIN st ON d.doc_id = st.doc_id
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous document quality score in [0, 1]: length saturation,
    token-count saturation, and lexical diversity (distinct/total token
    ratio) — the heuristic-quality-signal family used for corpus
    filtering, as one declarative aggregate."""
    d = load(spark, sf_dir, "documents")
    st = (
        tokens(d)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.countDistinct("token").alias("n_uniq"),
        )
    )
    quality = (
        0.4 * F.least(F.col("n_chars"), F.lit(500)) / 500.0
        + 0.3 * F.least(F.col("n_tok"), F.lit(60)) / 60.0
        + 0.3 * (F.col("n_uniq").cast("double") / F.col("n_tok"))
    )
    return d.join(st, "doc_id").select(
        "doc_id", pround(quality, 4).alias("quality")
    )


@query(
    "llm_fingerprint",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             ARRAY_TO_STRING(
               LIST_SLICE(STRING_SPLIT(text, ' '), i, i + 2), ' ') AS shingle
      FROM (
        SELECT doc_id, text,
               UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - 2)) AS i
        FROM documents
        WHERE LEN(STRING_SPLIT(text, ' ')) >= 3)
    )
    SELECT doc_id,
           MIN(MD5(shingle)) AS fp_min,
           COUNT(*) AS n_shingles,
           COUNT(DISTINCT shingle) AS n_distinct_shingles
    FROM sh GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting over rolling 3-token shingles: min-hash
    fingerprint + shingle cardinalities (winnowing-style content
    fingerprint; the min over a rolling window of hashed k-grams).
    Shingling is an array transform over the split — no second explode
    pass over raw text, no Python. The token array is bound as a column
    BEFORE the transform: a ``split(text, ' ')`` written inside the
    lambda body is re-evaluated once per element (Catalyst does not
    hoist loop-invariant subexpressions out of higher-order-function
    lambdas), turning an n-word document into O(n · len) work — ~190 s
    for one 366k-char doc vs ~1 s bound (giant-doc sweep,
    tests/test_giant_doc.py)."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    shingles = F.expr(
        "transform(sequence(1, size(toks) - 2),"
        " i -> array_join(slice(toks, i, 3), ' '))"
    )
    return (
        d.filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .groupBy("doc_id")
        .agg(
            F.min(F.md5("shingle")).alias("fp_min"),
            F.count("*").alias("n_shingles"),
            F.countDistinct("shingle").alias("n_distinct_shingles"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative: k-means over embeddings (unrolled Lloyd iterations) — defined
# before IVF because IVF's coarse quantizer is seeded by the same Lloyd
# machinery (VERDICT r1 next-round #8).
# ---------------------------------------------------------------------------

K_KMEANS = 4
KMEANS_ITERS = 2


def _lloyd_cte(k: int) -> str:
    """CTE chain for {KMEANS_ITERS} Lloyd iterations at ``k`` centroids,
    deterministic init (first ``k`` vectors): el (exploded doubles), c0,
    then per iteration d{{i}} (squared-distance join), a{{i}} (argmin
    assignment), c{{i}} (per-dim means). Callers select from
    a{{KMEANS_ITERS}} / c{{KMEANS_ITERS}}."""
    cte = """
    el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x, d FROM (
        SELECT vec_id, UNNEST(embedding) AS x,
               UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS d
        FROM embeddings)
    ), c0 AS (
      SELECT vec_id AS cid, d, x AS cx FROM el WHERE vec_id < {k}
    )""".format(k=k)
    prev = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        cte += """, d{i} AS (
      SELECT el.vec_id, c.cid,
             SUM((el.x - c.cx) * (el.x - c.cx)) AS dist
      FROM el JOIN {prev} c ON el.d = c.d
      GROUP BY 1, 2
    ), a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d{i}) WHERE rn = 1
    ), c{i} AS (
      SELECT a.cid, el.d, SUM(el.x) / COUNT(*) AS cx
      FROM el JOIN a{i} a USING (vec_id)
      GROUP BY 1, 2
    )""".format(i=i, prev=prev)
        prev = f"c{i}"
    return cte


def _lloyd_el(emb: DataFrame) -> DataFrame:
    """(vec_id, d, x) exploded double elements — Lloyd's working set.
    posexplode is 0-based vs the oracle's 1-based GENERATE_SERIES; both
    sides join centroids on their own ``d``, so alignment is internal.

    localCheckpoint'ed: every Lloyd iteration scans ``el`` twice
    (distance join + centroid update) and the IVF consumer adds more,
    so without truncation the scan+explode lineage re-executes
    5-6× — measured 2-8× slower and wildly variant under host load
    (llm_ann_ivf up to 34 s vs a stable ~3 s checkpointed at sf0.1).
    On a cluster this is ``persist()``/``checkpoint()`` of the working
    set — the standard iterative-algorithm pattern."""
    return (
        emb.select("vec_id", F.posexplode("embedding").alias("d", "x"))
        .withColumn("x", F.col("x").cast("double"))
        .localCheckpoint(eager=True)
    )


def _lloyd(el: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """{KMEANS_ITERS} Lloyd iterations at ``k`` centroids over exploded
    elements ``el``: assign (squared-distance join + per-vector argmin
    window) → update (per-cluster per-dim means), composed as one
    declarative DAG. Returns (assignment, centroids-as-elements).

    No driver-side centroid state (MLlib collects centroids per
    iteration; staying in-plan keeps the oracle expressible and the
    shuffle structure visible). Each iteration is two shuffles over
    |corpus|×K rows with K broadcast-sized."""
    cent = el.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), "d", F.col("x").alias("cx")
    )
    assign = None
    for _ in range(KMEANS_ITERS):
        dist = (
            el.join(cent, "d")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                ).alias("dist")
            )
        )
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        assign = (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        cent = (
            el.join(assign, "vec_id")
            .groupBy("cid", "d")
            .agg((F.sum("x") / F.count("*")).alias("cx"))
        )
    return assign, cent


def _kmeans_oracle() -> str:
    last = KMEANS_ITERS
    return f"""
    WITH {_lloyd_cte(K_KMEANS)}
    SELECT n.cid AS cluster, n.n_members, ROUND(SQRT(s.ss), 4) AS c_norm
    FROM (SELECT cid, COUNT(*) AS n_members FROM a{last} GROUP BY 1) n
    JOIN (SELECT cid, SUM(cx * cx) AS ss FROM c{last} GROUP BY 1) s
      ON n.cid = s.cid
    """


@query("llm_kmeans", oracle=_kmeans_oracle())
def llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus: {K_KMEANS} clusters,
    {KMEANS_ITERS} unrolled Lloyd iterations, deterministic init (the
    first {K_KMEANS} vectors). See :func:`_lloyd` for the iterative-
    algorithm pattern; the exploded working set is localCheckpoint'ed
    (see :func:`_lloyd_el`) so the per-iteration joins don't re-execute
    the scan+explode lineage (a production run additionally persists
    the assignment between iterations)."""
    emb = load(spark, sf_dir, "embeddings")
    assign, cent = _lloyd(_lloyd_el(emb), K_KMEANS)
    # r14 note: an assign-checkpoint + re-issued centroid update (the
    # llm_ann_ivf truncation) was tried here and MEASURED SLOWER
    # (1.65 → 1.99 s median-of-3): at K_KMEANS=4 the duplicated subtree
    # under the final 4-row join is cheaper than an extra materialization
    # barrier. Left on the shared el checkpoint (_lloyd_el) only.
    n = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    s = cent.groupBy("cid").agg(F.sum(F.col("cx") * F.col("cx")).alias("ss"))
    return n.join(s, "cid").select(
        F.col("cid").alias("cluster"),
        "n_members",
        pround(F.sqrt("ss"), 4).alias("c_norm"),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate nearest neighbors
# ---------------------------------------------------------------------------

K_IVF = 16  # number of coarse centroids (inverted lists)
NPROBE = 2  # probe the 2 nearest lists


def _ivf_oracle() -> str:
    return f"""
    WITH {_lloyd_cte(K_IVF)}, cel AS (
      SELECT cid, cx, d FROM c{KMEANS_ITERS}
    ), vc AS (
      SELECT el.vec_id, cel.cid,
             SUM(el.x * cel.cx) AS dot,
             SUM(el.x * el.x) AS nv,
             SUM(cel.cx * cel.cx) AS nc
      FROM el JOIN cel ON el.d = cel.d
      GROUP BY 1, 2
    ), scored AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY dot / (SQRT(nv) * SQRT(nc)) DESC, cid) AS rn
      FROM vc
    ), assign AS (
      SELECT vec_id, cid FROM scored WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS probe_id, cid FROM scored
      WHERE rn <= {NPROBE} AND vec_id < 10
    ), cand AS (
      SELECT DISTINCT p.probe_id, a.vec_id
      FROM probes p JOIN assign a
        ON p.cid = a.cid AND a.vec_id <> p.probe_id
    ), pel AS (
      SELECT cand.probe_id, cand.vec_id,
             UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.probe_id
      JOIN embeddings b ON b.vec_id = cand.vec_id
    ), dots AS (
      SELECT probe_id, vec_id,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE)) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE)) AS nb
      FROM pel GROUP BY 1, 2
    )
    SELECT probe_id, vec_id,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine, rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY probe_id
               ORDER BY dot / (SQRT(na) * SQRT(nb)) DESC, vec_id) AS rn
      FROM dots)
    WHERE rn <= 3
    """


@query("llm_ann_ivf", oracle=_ivf_oracle())
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (the inverted-file counterpart
    of llm_ann_lsh).

    Coarse quantizer: {K_IVF} k-means centroids ({KMEANS_ITERS} Lloyd
    iterations via :func:`_lloyd`, deterministic first-{K_IVF} init — the
    FAISS-style train step, in-plan; round-1's raw first-{K_IVF} vectors
    degenerate on clustered corpora, VERDICT r1 #8). Every vector joins
    its nearest centroid's inverted list (one broadcast join against the
    tiny centroid set + a per-vector argmax window); probes (vec_id < 10)
    search only their {NPROBE} nearest lists, exact top-3 cosine within
    candidates. At scale the inverted lists are the partitioning scheme:
    a probe touches NPROBE/K of the corpus instead of all of it, and the
    centroid set stays broadcast-sized by construction.
    """
    emb = load(spark, sf_dir, "embeddings")
    _, centl = _lloyd(_lloyd_el(emb), K_IVF)
    # Reassemble per-dim centroid elements into arrays so the probe/assign
    # stage stays the same array-cosine broadcast join. The finished
    # centroid table is {K_IVF} rows — localCheckpoint it (r14) so the
    # whole unrolled Lloyd lineage runs exactly once and the downstream
    # probe/assign plan starts from a {K_IVF}-row leaf instead of
    # re-planning (and partially re-executing) the 2-iteration join
    # chain under every consumer branch (guide §3.3: materialize tiny
    # intermediates to truncate a very large plan; the pre-r14 plan had
    # 152 operators / 60 Exchanges, the truncated one is a small
    # broadcast-join DAG).
    cent = (
        centl.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cx"))).alias("a"))
        .select("cid", F.expr("transform(a, s -> s.cx)").alias("ce"))
        .localCheckpoint(eager=True)
    )
    sim = cosine(F.col("embedding"), F.col("ce"))
    w_assign = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    # scored is |corpus| × NPROBE-ish rows of scalars — checkpointing it
    # keeps the window from being recomputed under BOTH the assignment
    # branch and the probe branch (window results can't ride a
    # ReusedExchange; the subtree would execute twice).
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cid", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .localCheckpoint(eager=True)
    )
    assign = scored.filter(F.col("rn") == 1).select(
        "vec_id", F.col("embedding").alias("eb"), "cid"
    )
    probes = scored.filter(
        (F.col("rn") <= NPROBE) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("ea"),
        "cid",
    )
    cand = (
        probes.join(assign, "cid")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", "ea", "vec_id", "eb")
        .distinct()
    )
    cos = cosine(F.col("ea"), F.col("eb"))
    w_top = W.partitionBy("probe_id").orderBy(F.col("c").desc(), F.col("vec_id"))
    return (
        cand.select("probe_id", "vec_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 3)
        .select(
            "probe_id", "vec_id", pround(F.col("c"), 4).alias("cosine"), "rn"
        )
    )

