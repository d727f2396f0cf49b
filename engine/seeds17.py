"""Round-17 seed operators — monitoring/curation statistics with exact
integer cores: Wilson-bound error alerting, curriculum staging,
per-type quantile normalization (fully integer rank remapping), and a
bit-stable two-sample KS distribution-drift audit — 4 operators, all
oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, _DAY_SQL, cents_col, pround
from engine.registry import query
from engine.session import load


WILSON_Z = 1.96
WILSON_THRESHOLD = 0.15
CURRICULUM_STAGES = 4
KS_SOURCE_A = "src0"
KS_SOURCE_B = "src1"


# ---------------------------------------------------------------------------
# events_wilson_alert — error-rate alerting with Wilson lower bounds
# ---------------------------------------------------------------------------


@query(
    "events_wilson_alert",
    oracle=f"""
    WITH d AS (
      SELECT {_DAY_SQL} AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1
    )
    SELECT day, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           ROUND((CAST(k AS DOUBLE) / n + {WILSON_Z!r} * {WILSON_Z!r} / (2 * n)
                  - {WILSON_Z!r} * SQRT((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {WILSON_Z!r} * {WILSON_Z!r} / (4.0 * n * n)))
                 / (1 + {WILSON_Z!r} * {WILSON_Z!r} / n), 6) AS wilson_lo,
           CAST(ROUND((CAST(k AS DOUBLE) / n + {WILSON_Z!r} * {WILSON_Z!r} / (2 * n)
                  - {WILSON_Z!r} * SQRT((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n
                        + {WILSON_Z!r} * {WILSON_Z!r} / (4.0 * n * n)))
                 / (1 + {WILSON_Z!r} * {WILSON_Z!r} / n), 6)
                > {WILSON_THRESHOLD!r} AS INT) AS alert
    FROM d
    """,
)
def events_wilson_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate alerting done right: per day, the Wilson-score LOWER
    confidence bound on the error share, alerting only when even the
    conservative bound clears the threshold — the small-sample-safe
    alternative to alerting on the raw ratio (which pages on 2-of-5
    days).

    The Wilson expression is one literal IEEE formula over exact
    integer (k, n) — identical operation sequence on both engines —
    and the ALERT compares the ROUNDED bound against the threshold, so
    the decision bit is taken on identical 6-dp values everywhere (the
    curation2 z-score lesson applied at design time). One day-grain
    aggregate, map-only math after it.
    """
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            (F.col("event_type") == "error").cast("int").alias("is_err"),
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n"),
            F.sum("is_err").alias("k"),
        )
    )
    z2 = WILSON_Z * WILSON_Z
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    lo = (
        p
        + F.lit(z2) / (2 * n)
        - WILSON_Z * F.sqrt(p * (1 - p) / n + F.lit(z2) / (4.0 * n * n))
    ) / (1 + F.lit(z2) / n)
    lo_r = pround(lo, 6)
    return d.select(
        "day",
        F.col("n").cast("bigint"),
        F.col("k").cast("bigint"),
        pround(p, 6).alias("p_hat"),
        lo_r.alias("wilson_lo"),
        (lo_r > WILSON_THRESHOLD).cast("int").alias("alert"),
    )


# ---------------------------------------------------------------------------
# llm_curriculum_stages — difficulty-ordered curriculum staging
# ---------------------------------------------------------------------------


@query(
    "llm_curriculum_stages",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             CAST(NTILE({CURRICULUM_STAGES}) OVER (
               ORDER BY n_chars, doc_id) AS INT) AS stage
      FROM documents
    )
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4)
             AS mean_tokens
    FROM d GROUP BY 1
    """,
)
def llm_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: the corpus split into 4 difficulty stages by
    length (the simplest robust difficulty proxy), each stage profiled
    — the easy-to-hard schedule curriculum training consumes, and the
    ordering counterpart of llm_quality_buckets' tercile gates.

    ntile over the unique (n_chars, doc_id) order is deterministic on
    both engines; stage profiles are integer sums with one final
    ratio. The global ntile sort is the stats-sample shape
    (agg_equidepth_histogram's caveat applies: at 100 TB stage BOUNDS
    come from approx_percentile and docs bin by comparison).
    """
    d = load(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.ntile(CURRICULUM_STAGES)
        .over(W.orderBy("n_chars", "doc_id"))
        .cast("int")
        .alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        pround(F.sum("n_tokens").cast("double") / F.count("*"), 4).alias(
            "mean_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# win_quantile_normalize — integer-exact cross-type quantile mapping
# ---------------------------------------------------------------------------


@query(
    "win_quantile_normalize",
    oracle=f"""
    WITH c AS (
      SELECT event_id, event_type, {_CENTS_SQL} AS cents FROM events
    ), r AS (
      SELECT event_id, event_type, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cents, event_id) AS BIGINT)
               AS rk,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nt
      FROM c
    ), g AS (
      SELECT cents AS gcents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, event_id) AS BIGINT)
               AS grk,
             CAST(COUNT(*) OVER () AS BIGINT) AS ng
      FROM c
    )
    SELECT r.event_id, r.event_type, r.cents,
           g.gcents AS normalized_cents
    FROM r JOIN g
      ON g.grk = CASE WHEN r.nt = 1 THEN 1
                 ELSE ((r.rk - 1) * (g.ng - 1) * 2 + (r.nt - 1))
                      // (2 * (r.nt - 1)) + 1 END
    """,
)
def win_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: every event's value remapped onto the
    GLOBAL value distribution at its within-type rank — the
    feature-engineering transform that makes heavy-tailed per-segment
    scores comparable (microarray normalization, LTR feature prep).

    ENTIRELY integer: within-type rank rk of nt maps to global position
    round((rk−1)·(ng−1)/(nt−1))+1 computed as
    ((rk−1)(ng−1)·2 + (nt−1)) div (2(nt−1)) — exact bigint
    round-half-up, no float quantile anywhere, so the mapping is
    bit-identical across engines (singleton types pin to position 1).
    Two rank windows (one per-type, one global) + one equi-join on the
    computed position. The global rank window is the stats-sample
    shape; the 100 TB form samples the global reference distribution.
    """
    e = load(spark, sf_dir, "events")
    c = e.select("event_id", "event_type", cents_col(F.col("value")).alias("cents"))
    return quantile_normalize_core(c)


def quantile_normalize_core(c: DataFrame) -> DataFrame:
    """The integer rank remap over any (event_id, event_type, cents)
    frame — factored for the hypothesis reference check
    (tests/test_seeds1720_refchecks.py)."""
    r = c.select(
        "event_id",
        "event_type",
        "cents",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("cents", "event_id"))
        .cast("bigint")
        .alias("rk"),
        F.count("*")
        .over(W.partitionBy("event_type"))
        .cast("bigint")
        .alias("nt"),
    )
    g = c.select(
        F.col("cents").alias("gcents"),
        F.row_number()
        .over(W.orderBy("cents", "event_id"))
        .cast("bigint")
        .alias("grk"),
    )
    # ng arrives on the RANK side via a 1-row broadcast so the join key
    # g.grk = pos(r-side columns only) stays a plain EQUI join — with ng
    # read off g the condition references both sides and Catalyst can
    # only nested-loop it.
    ng1 = c.agg(F.count("*").cast("bigint").alias("ng"))
    r = r.crossJoin(F.broadcast(ng1))
    pos = F.when(F.col("nt") == 1, F.lit(1).cast("bigint")).otherwise(
        F.floor(
            ((F.col("rk") - 1) * (F.col("ng") - 1) * 2 + (F.col("nt") - 1))
            / (2 * (F.col("nt") - 1))
        ).cast("bigint")
        + 1
    )
    return r.join(g, g["grk"] == pos).select(
        "event_id",
        "event_type",
        "cents",
        F.col("gcents").alias("normalized_cents"),
    )


# ---------------------------------------------------------------------------
# llm_length_ks_audit — bit-stable two-sample Kolmogorov-Smirnov drift
# ---------------------------------------------------------------------------


@query(
    "llm_length_ks_audit",
    oracle=f"""
    WITH a AS (
      SELECT n_chars FROM documents WHERE source = '{KS_SOURCE_A}'
    ), b AS (
      SELECT n_chars FROM documents WHERE source = '{KS_SOURCE_B}'
    ), sup AS (
      SELECT DISTINCT n_chars AS x FROM (
        SELECT n_chars FROM a UNION ALL SELECT n_chars FROM b)
    ), counts AS (
      SELECT s.x,
             CAST((SELECT COUNT(*) FROM a WHERE a.n_chars <= s.x) AS BIGINT)
               AS ca,
             CAST((SELECT COUNT(*) FROM b WHERE b.n_chars <= s.x) AS BIGINT)
               AS cb
      FROM sup s
    ), sizes AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS na,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS nb
    )
    SELECT '{KS_SOURCE_A}' AS source_a, '{KS_SOURCE_B}' AS source_b,
           z.na, z.nb,
           CAST(MAX(ABS(c.ca * z.nb - c.cb * z.na)) AS BIGINT)
             AS ks_scaled,
           ROUND(CAST(MAX(ABS(c.ca * z.nb - c.cb * z.na)) AS DOUBLE)
                 / NULLIF(z.na * z.nb, 0), 6) AS ks_stat
    FROM counts c CROSS JOIN sizes z
    GROUP BY 1, 2, 3, 4
    """,
)
def llm_length_ks_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift audit between two sources'
    document-length distributions — the distribution-shift screen run
    before mixing a new crawl dump into an established corpus (mean
    comparisons miss shape changes; KS is the max ECDF gap).

    BIT-STABLE by common-denominator arithmetic: the statistic is
    computed as max |ca·nb − cb·na| over the merged support — pure
    bigint — and only the final report divides by na·nb. The Spark
    side builds both cumulative counts with ONE window pass over the
    merged per-length count table (the oracle's correlated-subquery
    formulation is the textbook O(S²) spelling; the engine's is
    O(S log S)). At 100 TB the support is quantized to length buckets
    first — the statistic degrades gracefully to a binned KS.
    """
    d = load(spark, sf_dir, "documents")
    ab = d.filter(
        F.col("source").isin(KS_SOURCE_A, KS_SOURCE_B)
    ).select(
        "n_chars",
        (F.col("source") == KS_SOURCE_A).cast("int").alias("in_a"),
    )
    return ks_core(ab)


def ks_core(ab: DataFrame) -> DataFrame:
    """The common-denominator KS statistic over any (n_chars, in_a)
    frame — factored for the hypothesis reference check."""
    per_len = ab.groupBy("n_chars").agg(
        F.sum("in_a").alias("da"),
        F.sum(1 - F.col("in_a")).alias("db"),
    )
    w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per_len.select(
        "n_chars",
        F.sum("da").over(w).alias("ca"),
        F.sum("db").over(w).alias("cb"),
    )
    sizes = ab.agg(
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("nb"),
    )
    j = cum.crossJoin(F.broadcast(sizes))
    gap = F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    return j.groupBy("na", "nb").agg(
        F.max(gap).cast("bigint").alias("ks_scaled"),
        # try_divide: if either source is absent from the corpus,
        # na·nb = 0 — NULL statistic (no drift question to answer),
        # not an ANSI abort (one-row exact sweep).
        pround(
            F.try_divide(
                F.max(gap).cast("double"), F.col("na") * F.col("nb")
            ),
            6,
        ).alias("ks_stat"),
    ).select(
        F.lit(KS_SOURCE_A).alias("source_a"),
        F.lit(KS_SOURCE_B).alias("source_b"),
        "na",
        "nb",
        "ks_scaled",
        "ks_stat",
    )
