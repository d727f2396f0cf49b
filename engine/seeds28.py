"""Round-28 seed operator — recall evaluation for the BANDED embedding
near-dup path (`engine.scale_ops._embedding_neardup_banded`), the plan
that takes over beyond BROADCAST_MAX_VECS where the exact block-matmul
witness is impossible — 1 operator, oracled (VERDICT r12 item 5: the
banded path had only a soundness pin; its miss rate was unmeasured,
unlike MinHash's llm_dedup_recall and SimHash's llm_simhash_recall).

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so this
extends SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope (registry) — the
evaluated cores and the banding constants are imported at call/resolve
time, so this module registers without dragging engine.scale_ops'
registrations forward (the seeds22/seeds23-proven pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import ratio4
from engine.registry import query

# Witness population: an ABSOLUTE vec_id cap (constant evaluator work at
# any corpus scale — the llm_dedup_recall model). 250 witnesses + their
# 250 planted twins = a fixed 500-vector eval corpus at every SF.
EMB_EVAL_CAP = 250

# Planted near-duplicates: the fixture embeddings are near-orthogonal
# (max pairwise cosine ≈ 0.44), so the corpus alone cannot exercise the
# banded path's DESIGNED regime (high-similarity near-dups, cosine
# ≥ 0.95 — engine/scale_ops.py NEARDUP_BANDS/BITS tuning note). The
# evaluator therefore plants one twin per witness vector — vec_id
# shifted by PLANT_OFFSET, each component scaled by a deterministic
# ±5% factor — giving known pairs at cosine ≈ 0.999 whose banding
# recall measures the designed regime, while the organic near-threshold
# pairs (cosine 0.35-0.44) measure the documented LOW-similarity miss
# rate. Both tiers are reported.
PLANT_OFFSET = 1_000_000

# cosine bound separating the planted tier from the organic tier in the
# report (planted pairs read ≈ 0.999, organic ≤ ~0.5 — nothing near it,
# so the FP threshold-boundary risk is nil).
HIGH_COS = 0.9


def _plant_mult(d: int) -> float:
    """Component-d multiplier for the planted twin: 1 ± 0.05, a fixed
    arithmetic function of the dimension index so the oracle mirrors it
    exactly in SQL (the `_plane_weight` pattern)."""
    return 1.0 + ((d * 37) % 11 - 5) / 100.0


def _banded_recall_oracle() -> str:
    """Composed at resolve time so the banding constants come from the
    single source of truth in engine.scale_ops (imported lazily — see
    module docstring). The SQL mirrors, term for term: the witness cap,
    the planted-twin multipliers, the NEARDUP_BANDS×NEARDUP_BITS
    hyperplane sign bits and per-band bucket packing, the candidate
    self-join, and the exact-cosine verify."""
    from engine.scale_ops import (
        COSINE_NEARDUP_T,
        NEARDUP_BANDS,
        NEARDUP_BITS,
    )

    planes = NEARDUP_BANDS * NEARDUP_BITS
    return f"""
    WITH el0 AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x, d
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS d
            FROM embeddings WHERE vec_id < {EMB_EVAL_CAP})
    ), el AS (
      SELECT vec_id, x, d FROM el0
      UNION ALL
      SELECT vec_id + {PLANT_OFFSET},
             x * (1.0 + (((d - 1) * 37) % 11 - 5) / 100.0) AS x, d
      FROM el0
    ), dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             SUM(a.x * b.x) AS dot,
             SUM(a.x * a.x) AS na,
             SUM(b.x * b.x) AS nb
      FROM el a JOIN el b ON a.d = b.d AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ), exact AS (
      SELECT va, vb, dot / (SQRT(na) * SQRT(nb)) AS cos
      FROM dots
      WHERE dot / (SQRT(na) * SQRT(nb)) >= {COSINE_NEARDUP_T}
    ), proj AS (
      SELECT el.vec_id, k.k,
             SUM(x * ((((k.k * 97 + (d - 1) * 31) % 101) - 50) / 50.0))
               AS dot
      FROM el, (SELECT UNNEST(GENERATE_SERIES(0, {planes - 1})) AS k) k
      GROUP BY 1, 2
    ), bands AS (
      SELECT vec_id, (k // {NEARDUP_BITS}) AS band,
             CAST(SUM(CASE WHEN dot > 0
                           THEN (CAST(1 AS BIGINT) << (k % {NEARDUP_BITS}))
                           ELSE 0 END) AS BIGINT) AS bv
      FROM proj GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
    ), banded AS (
      SELECT e.va, e.vb, e.cos
      FROM cand JOIN exact e ON cand.va = e.va AND cand.vb = e.vb
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM banded) AS n_banded,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM banded) AS n_true_pos,
      ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM banded)
            / NULLIF((SELECT COUNT(*) FROM banded), 0), 4) AS precision,
      ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM banded)
            / NULLIF((SELECT COUNT(*) FROM exact), 0), 4) AS recall,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact
        WHERE cos >= {HIGH_COS}) AS n_exact_high,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM banded
        WHERE cos >= {HIGH_COS}) AS n_tp_high,
      ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM banded
              WHERE cos >= {HIGH_COS})
            / NULLIF((SELECT COUNT(*) FROM exact WHERE cos >= {HIGH_COS}),
                     0), 4) AS recall_high
    """


@query("emb_banded_recall", oracle=_banded_recall_oracle)
def emb_banded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall evaluation of the banded-LSH embedding near-dup path
    against the exact all-pairs cosine ground truth, on a planted +
    organic witness population — the measurement that justifies (and
    bounds) trusting `_embedding_neardup_banded` beyond the 2M-vector
    gate where the exact block-matmul witness is impossible
    (VERDICT r12 item 5; the llm_dedup_recall/llm_simhash_recall twin
    for the embedding modality).

    Population: witnesses (vec_id < EMB_EVAL_CAP) ∪ one planted twin per
    witness (deterministic ±5% per-component scaling, cosine ≈ 0.999) —
    see PLANT_OFFSET note. The report splits the designed HIGH-similarity
    regime (recall_high over pairs with cosine ≥ {HIGH_COS}: the planted
    tier, expected ≈ 1 at the 8×16-bit tuning) from the overall recall
    (dominated by organic 0.35-0.44 pairs, where banding misses are the
    DOCUMENTED contract — per-band collision p₁^16 ≈ 0.0004 at cosine
    0.4). Precision is 1 by construction (candidates are exact-verified)
    but MEASURED, not assumed: n_true_pos comes from joining the two
    independently-materialized pair frames, so a soundness break in the
    banded path reads as precision < 1 and hash-mismatches the oracle.

    Both sides run the SHIPPED banding core on the restricted population
    only: every banded quantity (hyperplane signs, band buckets, the
    exact verify) is per-vector or pairwise, so restriction commutes
    with the pipeline and pairs-over-restricted-input ≡ full-corpus
    pairs ∩ witness² — the same commutation contract as llm_dedup_recall
    (property-pinned there; the witness cap keeps evaluator work
    CONSTANT at any corpus scale).

    Accepted-tolerance note (ADVICE r13): three independently-ordered
    float summations feed the same threshold compare — the numpy matmul
    on the exact side, the JVM aggregate-fold cosine inside the banded
    verify, and DuckDB's SUM in the oracle — and COSINE_NEARDUP_T sits
    inside the organic fixture cosine range (up to ~0.44). A pair
    landing within ~1e-13 of the threshold could flip set membership
    between the three and hash-mismatch. Measured green at
    sf0.001/0.01/0.1 (no fixture pair lands near the boundary); the
    same ulp-boundary discipline as the winsorize refcheck applies if a
    future fixture ever trips it.

    Action economy (this evaluator must stay cheap in the bench suite):
    the exact side is one numpy cosine block over the coalesced
    500-vector eval corpus in mapInPandas (the llm_embedding_neardup
    block pattern — same f64 dot/√·√ arithmetic as the oracle; the
    single partition is fine because the witness cap makes the corpus
    CONSTANT-sized at any SF), and all five counters come from ONE
    full-outer-join aggregate over the two pair frames — 3 Spark
    actions total (dim probe, eval-corpus checkpoint, final collect)
    instead of a count-per-metric.
    """
    from engine.scale_ops import (
        COSINE_NEARDUP_T,
        _emb_dim,
        _embedding_neardup_banded,
    )
    from engine.session import load

    import numpy as np
    import pandas as pd

    witness = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < EMB_EVAL_CAP)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    dim = _emb_dim(witness)
    mult = F.array(*[F.lit(_plant_mult(d)) for d in range(dim)])
    twins = witness.select(
        (F.col("vec_id") + F.lit(PLANT_OFFSET)).alias("vec_id"),
        F.zip_with("embedding", mult, lambda x, m: x * m).alias(
            "embedding"
        ),
    )
    # Checkpointed because FOUR leaves consume it (the exact block and
    # both sides of the banded self-join); eval-corpus-sized, never
    # corpus-sized.
    ev = witness.unionByName(twins).localCheckpoint(eager=True)

    def allpairs(batches):
        pdfs = [p for p in batches if not p.empty]
        if not pdfs:
            return
        pdf = pd.concat(pdfs)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        sq = (mat * mat).sum(axis=1)
        cos = (mat @ mat.T) / np.sqrt(np.outer(sq, sq))
        ii, jj = np.nonzero(
            (cos >= COSINE_NEARDUP_T) & (ids[:, None] < ids[None, :])
        )
        yield pd.DataFrame(
            {
                "va": pd.Series(ids[ii], dtype="int64"),
                "vb": pd.Series(ids[jj], dtype="int64"),
                "cos": pd.Series(cos[ii, jj], dtype="float64"),
            }
        )

    exact = ev.coalesce(1).mapInPandas(
        allpairs, schema="va long, vb long, cos double"
    )
    # hot_gate=False: the eval corpus is witness-capped at 2·EMB_EVAL_CAP
    # = 500 rows, provably under any sane hot-bucket bound, and the gate
    # never changes the candidate set — skipping the census saves its
    # one extra job (engine/scale_ops.py note).
    banded = _embedding_neardup_banded(ev, dim, hot_gate=False).select(
        F.col("vec_a").alias("va"),
        F.col("vec_b").alias("vb"),
        F.lit(1).alias("in_b"),
    )
    j = exact.withColumn("in_e", F.lit(1)).join(
        banded, ["va", "vb"], "full_outer"
    )
    hi = F.col("cos") >= HIGH_COS
    in_e, in_b = F.col("in_e") == 1, F.col("in_b") == 1
    s = j.agg(
        F.count(F.when(in_e, 1)).alias("n_e"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        F.count(F.when(in_e & in_b, 1)).alias("tp"),
        F.count(F.when(in_e & hi, 1)).alias("n_eh"),
        F.count(F.when(in_e & in_b & hi, 1)).alias("n_th"),
    ).collect()[0]
    n_e, n_b, tp = int(s["n_e"]), int(s["n_b"]), int(s["tp"])
    n_eh, n_th = int(s["n_eh"]), int(s["n_th"])

    row = [
        (
            n_e, n_b, tp, ratio4(tp, n_b), ratio4(tp, n_e),
            n_eh, n_th, ratio4(n_th, n_eh),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_exact bigint, n_banded bigint, n_true_pos bigint, "
        "precision double, recall double, n_exact_high bigint, "
        "n_tp_high bigint, recall_high double",
    )
