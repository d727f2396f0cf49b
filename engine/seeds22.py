"""Round-22 seed operator — dedup-pipeline quality evaluation:
precision/recall of the MinHash-LSH near-dup pipeline against the
exact-Jaccard witness, the dedup twin of llm_ann_recall's index
evaluation — 1 operator, oracled (composed oracle).

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so this
extends SURVEY.md §2's own declared inventory. Registered PAST the
round-5 correctness window; rotate FIRST next round with seeds8-21.

Import discipline: leaf modules only at module scope (registry) — the
two evaluated queries are looked up through the REGISTRY at call time
and their oracles composed via the deferred-callable mechanism, so
this module registers without dragging llm_ops/scale_ops forward
(the llm_ann_recall-proven pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import pround
from engine.registry import ORACLES, query

EVAL_CAP = 1000  # the llm_jaccard_neardup witness population


def _dedup_recall_oracle() -> str:
    """Composed at resolve time from the two underlying oracles (both
    registered by then; SURVEY.md §7.5 composition rule)."""
    exact = ORACLES["llm_jaccard_neardup"]
    approx = ORACLES["llm_lsh_neardup"]
    return f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({exact})
               WHERE doc_a < {EVAL_CAP} AND doc_b < {EVAL_CAP}),
    a AS (SELECT doc_a, doc_b FROM ({approx})
          WHERE doc_a < {EVAL_CAP} AND doc_b < {EVAL_CAP}),
    tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           FROM e JOIN a USING (doc_a, doc_b))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_lsh,
           tp.n AS n_true_pos,
           ROUND(CAST(tp.n AS DOUBLE)
                 / (SELECT COUNT(*) FROM a), 4) AS precision,
           ROUND(CAST(tp.n AS DOUBLE)
                 / (SELECT COUNT(*) FROM e), 4) AS recall
    FROM tp
    """


@query("llm_dedup_recall", oracle=_dedup_recall_oracle)
def llm_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline evaluation: precision/recall of the banded
    MinHash-LSH near-dup pairs (llm_lsh_neardup) against the
    exact-Jaccard ground truth (llm_jaccard_neardup) on the shared
    witness population — the measurement that justifies trusting the
    LSH path at 100 TB where exact pairing is impossible (recall < 1
    quantifies banding misses: near-threshold pairs whose signatures
    collide in no band; precision is 1 by construction since LSH
    candidates are exact-verified — ASSERTED, not assumed).

    BOTH sides run their SHIPPED cores on the witness population only
    (engine.llm_ops.exact_jaccard_pairs — the core llm_jaccard_neardup
    wraps — and engine.lsh_core.lsh_neardup_pairs — the core
    llm_lsh_neardup wraps): input restriction COMMUTES with both
    pipelines, because every per-document quantity is
    token-content-only (minhash permutation hashes are md5(token#i),
    corpus-independent; jaccard is dictionary-invariant whatever
    vocabulary width the packing picks) and candidacy/verify/threshold
    are pairwise. So pairs-over-restricted-input ≡
    pairs-over-full-corpus ∩ witness² on each side (property-pinned in
    tests/test_properties.py), and the UNCHANGED composed oracle (each
    full registered CTE chain, THEN the cap filter) makes the driver
    re-verify both commutations on every run rather than trusting the
    argument. Restricting first drops the evaluator from
    ≈ sum-of-full-pipelines to witness-sized work on both sides
    (VERDICT r5 item 3's "Done" bar; the exact side alone is ~16×
    fewer candidate pairs at sf0.1 — 4000² → 1000²).

    Each pair frame is localCheckpoint-ed (eager) BEFORE the three
    actions below (join-count, count, count) — without it each
    pipeline executes twice. The checkpointed frames are pair-set-sized
    (≤ EVAL_CAP² candidates), never corpus-sized.
    """
    from engine.llm_ops import exact_jaccard_pairs, token_arrays
    from engine.lsh_core import lsh_neardup_pairs
    from engine.session import load

    witness = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EVAL_CAP
    )
    exact = (
        exact_jaccard_pairs(witness)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    approx = (
        lsh_neardup_pairs(token_arrays(witness), 0.8)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    tp = exact.join(approx, ["doc_a", "doc_b"]).count()
    n_e = exact.count()
    n_a = approx.count()
    row = [
        (
            n_e,
            n_a,
            tp,
            float(__import__("math").floor(tp / n_a * 10**4 + 0.5)) / 10**4
            if n_a
            else None,
            float(__import__("math").floor(tp / n_e * 10**4 + 0.5)) / 10**4
            if n_e
            else None,
        )
    ]
    return spark.createDataFrame(
        row,
        "n_exact bigint, n_lsh bigint, n_true_pos bigint, "
        "precision double, recall double",
    )
