"""Round-22 seed operator — dedup-pipeline quality evaluation:
precision/recall of the MinHash-LSH near-dup pipeline against the
exact-Jaccard witness, the dedup twin of llm_ann_recall's index
evaluation — 1 operator, oracled (composed oracle).

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so this
extends SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope (registry) — the
two evaluated queries are looked up through the REGISTRY at call time
and their oracles composed via the deferred-callable mechanism, so
this module registers without dragging llm_ops/scale_ops forward
(the llm_ann_recall-proven pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import ratio4
from engine.registry import ORACLES, query

EVAL_CAP = 1000  # the llm_jaccard_neardup witness population


def recall_oracle(approx_qid: str, n_approx: str) -> str:
    """DuckDB mirror of :func:`pair_recall` for an approximate near-dup
    query scored against llm_jaccard_neardup, composed at resolve time
    from the two registered oracles (SURVEY.md §7.5 composition rule):
    each full CTE chain, THEN the witness cap."""
    exact = ORACLES["llm_jaccard_neardup"]
    approx = ORACLES[approx_qid]
    return f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({exact})
               WHERE doc_a < {EVAL_CAP} AND doc_b < {EVAL_CAP}),
    a AS (SELECT doc_a, doc_b FROM ({approx})
          WHERE doc_a < {EVAL_CAP} AND doc_b < {EVAL_CAP}),
    tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           FROM e JOIN a USING (doc_a, doc_b))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS {n_approx},
           tp.n AS n_true_pos,
           ROUND(CAST(tp.n AS DOUBLE)
                 / (SELECT COUNT(*) FROM a), 4) AS precision,
           ROUND(CAST(tp.n AS DOUBLE)
                 / (SELECT COUNT(*) FROM e), 4) AS recall
    FROM tp
    """


def pair_recall(
    exact: DataFrame, approx: DataFrame
) -> tuple[int, int, int, float | None, float | None]:
    """(n_exact, n_approx, n_true_pos, precision, recall) of the
    approximate (doc_a, doc_b) pair set ``approx`` against the ground
    truth ``exact``. All three counts come from ONE full-outer-join
    aggregate — one action, and neither pair pipeline runs twice (the
    emb_banded_recall pattern). A score with a zero denominator is None."""
    j = exact.select("doc_a", "doc_b", F.lit(1).alias("in_e")).join(
        approx.select("doc_a", "doc_b", F.lit(1).alias("in_a")),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    in_e, in_a = F.col("in_e") == 1, F.col("in_a") == 1
    s = j.agg(
        F.count(F.when(in_e, 1)).alias("n_e"),
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_e & in_a, 1)).alias("tp"),
    ).collect()[0]
    n_e, n_a, tp = int(s["n_e"]), int(s["n_a"]), int(s["tp"])
    return n_e, n_a, tp, ratio4(tp, n_a), ratio4(tp, n_e)


@query(
    "llm_dedup_recall",
    oracle=lambda: recall_oracle("llm_lsh_neardup", "n_lsh"),
)
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

    Both pair frames are scored by :func:`pair_recall` in one action.
    """
    from engine.llm_ops import exact_jaccard_pairs, token_arrays, tokens
    from engine.lsh_core import lsh_neardup_pairs
    from engine.session import load

    witness = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EVAL_CAP
    )
    row = pair_recall(
        exact_jaccard_pairs(tokens(witness, distinct=True)),
        lsh_neardup_pairs(token_arrays(witness), 0.8),
    )
    return spark.createDataFrame(
        [row],
        "n_exact bigint, n_lsh bigint, n_true_pos bigint, "
        "precision double, recall double",
    )
