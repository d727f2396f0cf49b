"""Round-23 seed operators — two more evaluation harnesses: SimHash
proxy quality against the exact-Jaccard ground truth (completing the
sketch-eval matrix next to llm_ann_recall / llm_dedup_recall) and a
naive-forecast backtest with exact integer error metrics — 2 operators,
oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope; evaluated
queries/oracles are composed through the registry at call/resolve time
(the llm_ann_recall pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, _DAY_SQL, pround
from engine.registry import query
from engine.session import load


# ---------------------------------------------------------------------------
# llm_simhash_recall — SimHash-as-proxy evaluation vs exact Jaccard
# ---------------------------------------------------------------------------


def _simhash_recall_oracle() -> str:
    from engine.seeds22 import recall_oracle

    return recall_oracle("llm_simhash_neardup", "n_simhash")


@query("llm_simhash_recall", oracle=_simhash_recall_oracle)
def llm_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash proxy-quality evaluation: the Hamming-banded SimHash
    pairs (llm_simhash_neardup) scored against the exact-Jaccard ground
    truth — UNLIKE the LSH pipeline (exact-verified, precision 1 by
    construction, llm_dedup_recall), SimHash pairs are kept on Hamming
    distance ALONE, so both precision (Hamming-close but not
    Jaccard-similar) and recall (Jaccard-similar but Hamming-far) are
    genuinely informative. Completes the sketch-eval matrix:
    ANN (llm_ann_recall) / LSH (llm_dedup_recall) / SimHash (here).

    BOTH sides run their SHIPPED cores on the witness population only
    (llm_ops.exact_jaccard_pairs; scale_ops.simhash_neardup_pairs over
    scale_ops._simhash_df — the exact functions the registered queries
    compose): per-document quantities are token-content-only and
    candidacy/verify/threshold pairwise, so restricted-input pairs ≡
    full-corpus pairs ∩ witness² on each side (property-pinned in
    tests/test_properties.py), and the UNCHANGED composed oracle (each
    full registered CTE chain, THEN the cap filter) has the driver
    re-verify both commutations every run. Both pair frames are scored
    by engine.seeds22.pair_recall in one action.
    MEASURED VERDICT on the fixtures: precision ≈ 0.16,
    recall ≈ 0.02 — SimHash's random-hyperplane signature approximates
    COSINE over token frequencies, which on this corpus selects a
    largely different pair population than set-Jaccard ≥ 0.8; the
    64-bit signature's ~4× cost discount over MinHash banding buys a
    proxy, not a substitute, and THIS op is what makes that visible
    before a pipeline swaps one for the other.
    """
    from engine.llm_ops import exact_jaccard_pairs, tokens
    from engine.scale_ops import _simhash_df, simhash_neardup_pairs
    from engine.seeds22 import EVAL_CAP, pair_recall

    witness = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EVAL_CAP
    )
    row = pair_recall(
        exact_jaccard_pairs(tokens(witness, distinct=True)),
        simhash_neardup_pairs(_simhash_df(spark, sf_dir, docs=witness)),
    )
    return spark.createDataFrame(
        [row],
        "n_exact bigint, n_simhash bigint, n_true_pos bigint, "
        "precision double, recall double",
    )


# ---------------------------------------------------------------------------
# ts_naive_forecast_eval — last-value backtest with integer errors
# ---------------------------------------------------------------------------


@query(
    "ts_naive_forecast_eval",
    oracle=f"""
    WITH d AS (
      SELECT event_type, {_DAY_SQL} AS day,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), l AS (
      SELECT event_type, day, v,
             LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS yhat
      FROM d
    )
    SELECT event_type,
           CAST(COUNT(yhat) AS BIGINT) AS n_forecasts,
           CAST(SUM(ABS(v - yhat)) AS BIGINT) AS abs_err_cents,
           ROUND(CAST(SUM(ABS(v - yhat)) AS DOUBLE)
                 / NULLIF(COUNT(yhat), 0), 4) AS mae_cents,
           ROUND(CAST(SUM(ABS(v - yhat)) AS DOUBLE) / NULLIF(SUM(CASE
                 WHEN yhat IS NOT NULL THEN v END), 0), 6) AS wape
    FROM l GROUP BY 1
    """,
)
def ts_naive_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting baseline: the naive last-value forecast
    (ŷₜ = xₜ₋₁) scored per type with MAE and WAPE — the floor every
    real forecasting model must beat, and the backtest harness shape
    (lag-as-prediction → integer error aggregation) that fancier
    models plug into.

    WAPE (Σ|err|/Σactual) instead of MAPE: per-point percentage errors
    explode on near-zero days and their mean is order-sensitive in
    float — the WAPE ratio is two exact bigint sums and one divide.
    One day-grain rollup, one lag window, one reduce — all on the same
    event_type partitioning.
    """
    e = load(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    d = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            c.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type", "day", "v", F.lag("v").over(w).alias("yhat")
    )
    err = F.abs(F.col("v") - F.col("yhat"))
    return l.groupBy("event_type").agg(
        F.count("yhat").cast("bigint").alias("n_forecasts"),
        F.sum(err).cast("bigint").alias("abs_err_cents"),
        # try_divide both scores: a type with a single observed day has
        # no forecasts (COUNT(yhat) = 0), and an all-zero-value span has
        # Σactual = 0 — NULL scores, not ANSI aborts (zero-values sweep).
        pround(
            F.try_divide(F.sum(err).cast("double"), F.count("yhat")), 4
        ).alias("mae_cents"),
        pround(
            F.try_divide(
                F.sum(err).cast("double"),
                F.sum(F.when(F.col("yhat").isNotNull(), F.col("v"))),
            ),
            6,
        ).alias("wape"),
    )
