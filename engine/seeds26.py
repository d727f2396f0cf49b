"""Round-26 seed operators — winsorized robust statistics, explicit
NULL-ordering portability, longest activity streaks, and a label-
balance chi-square audit — 4 operators, all oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, _DAY_SQL, cents_col, cents_sql, exact_avg, exact_avg_sql, exact_sum, exact_sum_sql, pround
from engine.registry import query
from engine.session import load


WINSOR_LO, WINSOR_HI = 0.01, 0.99


# ---------------------------------------------------------------------------
# llm_winsorize_clip — percentile clipping before training statistics
# ---------------------------------------------------------------------------


@query(
    "llm_winsorize_clip",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {_CENTS_SQL} AS c FROM events
    ), b AS (
      SELECT event_type,
             QUANTILE_CONT(c, {WINSOR_LO!r}) AS lo,
             QUANTILE_CONT(c, {WINSOR_HI!r}) AS hi
      FROM c GROUP BY 1
    )
    SELECT c.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c.c < b.lo OR c.c > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           ROUND(CAST(SUM(c.c) AS DOUBLE) / COUNT(c.c), 4) AS mean_raw,
           ROUND((CAST(SUM(CASE WHEN c.c >= b.lo AND c.c <= b.hi
                               THEN c.c ELSE 0 END) AS DOUBLE)
                  + CAST(SUM(CASE WHEN c.c < b.lo THEN 1 ELSE 0 END)
                         AS DOUBLE) * MIN(b.lo)
                  + CAST(SUM(CASE WHEN c.c > b.hi THEN 1 ELSE 0 END)
                         AS DOUBLE) * MIN(b.hi))
                 / COUNT(c.c), 4) AS mean_winsorized
    FROM c JOIN b USING (event_type)
    GROUP BY 1
    """,
)
def llm_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: per-type values clipped to their exact [p1, p99]
    band, reporting clip counts and the raw-vs-winsorized mean shift —
    the outlier-capping step run before any mean-based training
    statistic (a single fat-finger value drags a raw mean; the
    winsorized mean is the robust default).

    Exact interpolated percentiles over integer cents land on engine-
    identical fractional values (the agg_percentile mapping); the
    clip comparison and the conditional average are the same literal
    expressions both sides. The clipped-mean AVG sums doubles (clip
    bounds are fractional) — §7.5 rounded compare at 4 dp. Two passes
    over ONE event_type partitioning with a 5-row bounds broadcast;
    the 100 TB swap is approx_percentile bounds (drift-audited).
    """
    e = load(spark, sf_dir, "events")
    c = e.select("event_type", cents_col(F.col("value")).alias("c"))
    b = c.groupBy("event_type").agg(
        F.percentile("c", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("c", F.lit(WINSOR_HI)).alias("hi"),
    )
    j = c.join(F.broadcast(b), "event_type")
    # r10 quantization audit: the winsorized mean DECOMPOSES into exact
    # integer sums plus two scalar multiplies — Σclipped = Σ(in-band c)
    # + n_lo·lo + n_hi·hi — so no double folds over data-sized groups
    # remain (the clip bounds are fractional interpolated quantiles,
    # but they enter once per group, not once per row). mean_raw is the
    # SUM/COUNT form over exact cents.
    in_band = (F.col("c") >= F.col("lo")) & (F.col("c") <= F.col("hi"))
    sum_mid = F.sum(
        F.when(in_band, F.col("c")).otherwise(F.lit(0)).cast("decimal(38,0)")
    ).cast("double")
    n_lo = F.sum(
        F.when(F.col("c") < F.col("lo"), 1).otherwise(0)
    ).cast("double")
    n_hi = F.sum(
        F.when(F.col("c") > F.col("hi"), 1).otherwise(0)
    ).cast("double")
    return j.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            ((F.col("c") < F.col("lo")) | (F.col("c") > F.col("hi"))).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("n_clipped"),
        pround(
            F.sum(F.col("c").cast("decimal(38,0)")).cast("double")
            / F.count("c"),
            4,
        ).alias("mean_raw"),
        pround(
            (sum_mid + n_lo * F.min("lo") + n_hi * F.min("hi"))
            / F.count("c"),
            4,
        ).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# sql_null_ordering — explicit NULLS FIRST / LAST portability
# ---------------------------------------------------------------------------


@query(
    "sql_null_ordering",
    oracle="""
    WITH k AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 3 THEN NULL
                  ELSE o_totalprice END AS maybe_price
      FROM orders
    ), r AS (
      SELECT o_orderkey, maybe_price,
             CAST(ROW_NUMBER() OVER (
               ORDER BY maybe_price DESC NULLS LAST, o_orderkey) AS BIGINT)
               AS rk_nl,
             CAST(ROW_NUMBER() OVER (
               ORDER BY maybe_price ASC NULLS FIRST, o_orderkey) AS BIGINT)
               AS rk_nf
      FROM k
    )
    SELECT o_orderkey, rk_nl, rk_nf
    FROM r WHERE rk_nl <= 20 OR rk_nf <= 20
    """,
)
def sql_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST / NULLS LAST ordering — the portability
    surface where engine DEFAULTS silently disagree (Spark sorts nulls
    first ascending, DuckDB last): a manufactured nullable sort key
    ranked under BOTH explicit placements, keeping each ranking's
    top-20.

    With the placement spelled out the rankings are identical across
    engines — the lesson is that any cross-engine ORDER BY over a
    nullable key MUST say NULLS FIRST/LAST (this repo's other queries
    sort non-null keys by construction; this op pins the rule for the
    nullable case). Ties broken by o_orderkey; both rankings share one
    sort-friendly plan.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("no_orders")
    return spark.sql(
        """
        WITH k AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 11 = 3 THEN NULL
                      ELSE o_totalprice END AS maybe_price
          FROM no_orders
        ), r AS (
          SELECT o_orderkey, maybe_price,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY maybe_price DESC NULLS LAST, o_orderkey)
                   AS BIGINT) AS rk_nl,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY maybe_price ASC NULLS FIRST, o_orderkey)
                   AS BIGINT) AS rk_nf
          FROM k
        )
        SELECT o_orderkey, rk_nl, rk_nf
        FROM r WHERE rk_nl <= 20 OR rk_nf <= 20
        """
    )


# ---------------------------------------------------------------------------
# events_active_streak_max — longest consecutive-day activity streak
# ---------------------------------------------------------------------------


@query(
    "events_active_streak_max",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, {_DAY_SQL} AS day FROM events
    ), g AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS BIGINT) AS grp
      FROM ud
    ), s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len,
             CAST(MIN(day) AS BIGINT) AS streak_start
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(MAX(streak_len) AS BIGINT) AS max_streak,
           CAST(MIN(CASE WHEN streak_len = ms THEN streak_start END)
                AS BIGINT) AS first_max_streak_start
    FROM (SELECT s.*, MAX(streak_len) OVER (PARTITION BY user_id) AS ms
          FROM s)
    GROUP BY 1
    """,
)
def events_active_streak_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (with the start
    day of the earliest maximal streak) — the engagement-streak metric
    behind habit features and re-engagement triggers, via the classic
    day − row_number() island key (consecutive days share a constant
    difference).

    Pure integer arithmetic end-to-end; the earliest-max tie-break
    makes the start day deterministic when a user has two equal
    streaks. The dedup, the island window, the per-island aggregate,
    and the final reduce ALL cluster on user_id — one exchange
    (win_gap_islands applies the same key to value-gap islands; this
    is the calendar-streak application).
    """
    e = load(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        )
        .distinct()
        .repartition("user_id")
    )
    return max_streak_core(ud)


def max_streak_core(ud: DataFrame) -> DataFrame:
    """The island core over distinct (user_id, day) rows — factored so
    the refcheck suite (tests/test_seeds2627_refchecks.py) can drive it
    on arbitrary day sets (single days, long chains, equal twin
    streaks) against a sequential scan."""
    g = ud.select(
        "user_id",
        "day",
        (
            F.col("day")
            - F.row_number()
            .over(W.partitionBy("user_id").orderBy("day"))
            .cast("bigint")
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("streak_len"),
        F.min("day").cast("bigint").alias("streak_start"),
    )
    ms = s.select(
        "user_id",
        "streak_len",
        "streak_start",
        F.max("streak_len").over(W.partitionBy("user_id")).alias("ms"),
    )
    return ms.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("max_streak"),
        F.min(
            F.when(F.col("streak_len") == F.col("ms"), F.col("streak_start"))
        )
        .cast("bigint")
        .alias("first_max_streak_start"),
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
