"""Round-25 seed operators — classifier confusion-matrix rollup over
the language-ID predictions and the overflow-safe TRY aggregate
surface — 2 operators, oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope; composition via
the registry (the llm_ann_recall pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import pround
from engine.registry import ORACLES, QUERIES, query
from engine.session import load


# ---------------------------------------------------------------------------
# llm_langid_confusion — confusion matrix over the lang-ID classifier
# ---------------------------------------------------------------------------


def _confusion_oracle() -> str:
    base = ORACLES["llm_lang_id"]
    return f"""
    WITH p AS (SELECT actual_lang, pred_lang, correct FROM ({base}))
    SELECT actual_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER
                 (PARTITION BY actual_lang), 4) AS row_share
    FROM p GROUP BY 1, 2
    """


@query("llm_langid_confusion", oracle=_confusion_oracle)
def llm_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language-ID classifier
    (llm_lang_id) against the fixture's ground-truth lang column —
    per (actual, predicted) cell counts and each row's share of its
    actual-language total (per-class recall on the diagonal) — the
    standard eval artifact a curation pipeline publishes before
    trusting predicted-language routing at 100 TB.

    Composes the REGISTERED classifier query/oracle (the
    llm_ann_recall pattern), so the matrix always scores the shipped
    model. The matrix is alphabet²-bounded (≤ |langs|² cells) at any
    corpus size — one aggregation over the classifier's per-doc output.
    """
    p = QUERIES["llm_lang_id"](spark, sf_dir).select(
        "actual_lang", "pred_lang"
    )
    g = p.groupBy("actual_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    from pyspark.sql import Window as W

    tot = F.sum("n").over(W.partitionBy("actual_lang"))
    return g.select(
        "actual_lang",
        "pred_lang",
        "n",
        pround(F.col("n").cast("double") / tot, 4).alias("row_share"),
    )


# ---------------------------------------------------------------------------
# agg_try_aggregates — overflow-safe try_sum / try_avg surface
# ---------------------------------------------------------------------------


@query(
    "agg_try_aggregates",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                 * 1.0 / COUNT(*), 4) AS cents_avg,
           CAST(1 AS INT) AS overflow_is_null
    FROM events
    """,
)
def agg_try_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow-safe TRY aggregates (`try_sum` / `try_avg` — Spark 4's
    NULL-on-overflow variants): the events cent totals through the safe
    path, PLUS a manufactured bigint overflow (two 8·10¹⁸ addends)
    proving try_sum yields NULL instead of aborting the job — the
    aggregate-level counterpart of fn_try_arith's row-level TRY ops,
    and the difference between one poisoned partition failing a 10⁶-
    task job and a NULL you can quarantine.

    The oracle computes the normal sums (no overflow at fixture scale —
    DuckDB sums BIGINT into INT128 and cannot overflow here, which is
    exactly why the overflow probe is engine-side with its flag pinned
    TRUE). try_avg divides after a try_sum-style accumulation; the
    4-dp average uses the portable round.
    """
    e = load(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    main = e.agg(
        F.try_sum(c).cast("bigint").alias("cents_sum"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "cents_sum",
        (
            F.floor(
                F.col("cents_sum") * 1.0 / F.col("n") * 10**4 + F.lit(0.5)
            )
            / 10**4
        ).alias("cents_avg"),
    )
    big = spark.createDataFrame(
        [(8 * 10**18,), (8 * 10**18,)], "x long"
    )
    probe = big.agg(
        F.try_sum("x").isNull().cast("int").alias("overflow_is_null")
    )
    return main.crossJoin(probe).select(
        "cents_sum", "cents_avg", "overflow_is_null"
    )
