"""Round-27 seed operators — trailing-window anomaly detection with
exact integer moments and a code-fraction curation classifier — 2
operators, oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, _DAY_SQL, pround
from engine.registry import query
from engine.session import load


RZ_WINDOW = 7  # trailing days (excluding the current one)
RZ_THRESHOLD = 2.0


# ---------------------------------------------------------------------------
# ts_rolling_zscore — trailing-window anomaly flags from exact moments
# ---------------------------------------------------------------------------


@query(
    "ts_rolling_zscore",
    oracle=f"""
    WITH d AS (
      SELECT event_type, {_DAY_SQL} AS day,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, day, v,
             CAST(COUNT(v) OVER w AS BIGINT) AS n,
             CAST(SUM(v) OVER w AS BIGINT) AS s1,
             CAST(SUM(v * v) OVER w AS BIGINT) AS s2
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {RZ_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, v,
           ROUND(CASE WHEN n >= 3 AND n * s2 > s1 * s1
                 THEN (v * n - s1)
                      / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) * n / (n - 1))
                 END, 4) AS rolling_z,
           CAST(CASE WHEN n >= 3 AND n * s2 > s1 * s1 AND
                ABS(ROUND((v * n - s1)
                    / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) * n / (n - 1)),
                    4)) > {RZ_THRESHOLD!r}
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM m
    """,
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags: each day's value scored
    against the PRECEDING 7 days' mean/std (never its own — the
    classic self-inclusion leak that mutes the very spike being
    tested) — the streaming-style local anomaly detector next to
    events_anomaly_zscore's global one and ts_cusum_change's level
    shift.

    The window moments (n, Σv, Σv²) are EXACT bigints over a ROWS
    frame, so z = (v·n − s1)/√((n·s2 − s1²)·n/(n−1)) is one literal
    IEEE expression per row; the anomaly bit compares the ROUNDED z
    (the Wilson-alert discipline). Degenerate windows (n < 3 or zero
    variance) emit NULL z / no flag on both engines. One day-grain
    rollup, one window pass per type.
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
    return rolling_z_core(d)


def rolling_z_core(d: DataFrame) -> DataFrame:
    """The trailing-frame core over day-grain (event_type, day, v) rows
    — factored so the refcheck suite (tests/test_seeds2627_refchecks.py)
    can drive the ROWS-frame moments on arbitrary series (constant
    runs, n<3 heads, zero-variance windows) against a sequential
    scan."""
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-RZ_WINDOW, -1)
    )
    m = d.select(
        "event_type",
        "day",
        "v",
        F.count("v").over(w).cast("bigint").alias("n"),
        F.sum("v").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).cast("bigint").alias("s2"),
    )
    ok = (F.col("n") >= 3) & (
        F.col("n") * F.col("s2") > F.col("s1") * F.col("s1")
    )
    z = (F.col("v") * F.col("n") - F.col("s1")) / F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        * F.col("n")
        / (F.col("n") - 1)
    )
    z_r = pround(z, 4)
    return m.select(
        "event_type",
        "day",
        "v",
        F.when(ok, z_r).alias("rolling_z"),
        F.when(ok & (F.abs(z_r) > RZ_THRESHOLD), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# llm_code_fraction — code-vs-prose curation classifier
# ---------------------------------------------------------------------------


@query(
    "llm_code_fraction",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             LENGTH(text) AS n_chars_t,
             LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(REPLACE(
               text, '{', ''), '}', ''), ';', ''), '=', ''))
               AS n_codechars,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_codechars) AS BIGINT) AS code_chars,
           ROUND(CAST(SUM(n_codechars) AS DOUBLE) / NULLIF(SUM(n_chars_t), 0), 6)
             AS code_char_share,
           CAST(SUM(CASE WHEN n_codechars * 50 > n_chars_t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_codeish_docs
    FROM f GROUP BY 1
    """,
)
def llm_code_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen: per language, the density of code-symbol
    characters (braces, semicolons, equals) and the count of documents
    whose density clears 2 % — the StarCoder-style routing heuristic
    that decides whether a crawl shard feeds the code or the prose
    mixture (misrouted code inflates prose perplexity and vice versa).

    Symbol counting is length-difference arithmetic (no regex engine
    differences to reconcile); the 2 % gate is the integer surrogate
    n_codechars·50 > n_chars, so the doc-level decision is exact on
    both engines. Map-only until the per-language reduce.
    """
    d = load(spark, sf_dir, "documents")
    stripped = F.col("text")
    for ch in ("{", "}", ";", "="):
        stripped = F.replace(stripped, F.lit(ch), F.lit(""))
    f = d.select(
        "lang",
        F.length("text").alias("n_chars_t"),
        (F.length("text") - F.length(stripped)).alias("n_codechars"),
    )
    return f.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_codechars").cast("bigint").alias("code_chars"),
        pround(
            # try_divide: a language whose every doc is empty has
            # Σn_chars = 0 — NULL share, not an ANSI job abort. The
            # oracle's NULLIF denominator makes the NULL explicit
            # rather than relying on DuckDB-1.0.0's NULL-on-div0
            # default (ADVICE r6: newer duckdb yields inf there).
            F.try_divide(
                F.sum("n_codechars").cast("double"), F.sum("n_chars_t")
            ),
            6,
        ).alias("code_char_share"),
        F.sum(
            (F.col("n_codechars") * 50 > F.col("n_chars_t")).cast("int")
        )
        .cast("bigint")
        .alias("n_codeish_docs"),
    )
