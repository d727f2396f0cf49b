"""Round-12 seed operators — statistical monitoring over the event
stream: lag-k autocorrelation, CUSUM change-point detection, a
Benford first-digit audit, and a Gini concentration coefficient —
4 operators, all oracled, all with EXACT integer moment arithmetic
(no float-summation-order surface anywhere; the only doubles are
final closed-form ratios of exact bigints).

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


AUTOCORR_LAGS = (1, 7)


# ---------------------------------------------------------------------------
# ts_autocorr — lag-k autocorrelation from exact integer moments
# ---------------------------------------------------------------------------


def _autocorr_oracle() -> str:
    lag_selects = " UNION ALL ".join(
        f"SELECT {k} AS lag_k" for k in AUTOCORR_LAGS
    )
    return f"""
    WITH d AS (
      SELECT event_type, {_DAY_SQL} AS day,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), lags AS ({lag_selects}),
    p AS (
      SELECT a.event_type, l.lag_k,
             a.v AS x, b.v AS y
      FROM d a
      CROSS JOIN lags l
      JOIN d b ON b.event_type = a.event_type AND b.day = a.day + l.lag_k
    ), m AS (
      SELECT event_type, lag_k,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM p GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag_k AS INT) AS lag_k, n,
           ROUND(CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                           * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                           = 0 THEN NULL
                 ELSE (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
                 END, 6) AS autocorr
    FROM m
    """


@query("ts_autocorr", oracle=_autocorr_oracle())
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1, 7) of each type's daily value
    series — the 'is there day-over-day momentum / weekly seasonality'
    diagnostic behind forecasting-model choice.

    Pearson r over (xₜ, xₜ₊ₖ) pairs computed from SIX exact integer
    sums per (type, lag) — unlike the builtin corr()/regr_* (double
    accumulation, §7.5 rounded compare), this closed form is
    bit-stable: the only float ops are the final two multiplies, one
    sqrt, one divide, identical on both engines. The lag pairing is a
    self-join of the DAY-GRAIN rollup (≤ days-per-type rows — never
    the raw fact) on day+k; both sides come off one event_type×day
    aggregation.
    """
    e = load(spark, sf_dir, "events")
    d = (
        e.select("event_type", F.floor(F.unix_timestamp("ts") / 86400)
                 .cast("bigint").alias("day"), cents_col(F.col("value")).alias("c"))
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
    )
    return autocorr_core(d, AUTOCORR_LAGS)


def autocorr_core(d: DataFrame, lag_ks=AUTOCORR_LAGS) -> DataFrame:
    """The exact-moment lag correlation over any day-grain frame
    (event_type, day, v) — factored for the hypothesis reference check
    (tests/test_seeds1213_refchecks.py)."""
    spark = d.sparkSession
    lags = spark.createDataFrame(
        [(int(k),) for k in lag_ks], "lag_k int"
    )
    a = d.select("event_type", "day", F.col("v").alias("x"))
    b = d.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("v").alias("y"),
    )
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et2") == F.col("event_type"))
            & (F.col("day2") == F.col("day") + F.col("lag_k")),
        )
    )
    m = p.groupBy("event_type", "lag_k").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy")
    num = n * F.col("sxy").cast("double") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - sx * F.col("sx"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    # try_divide: a zero-variance (constant) series has den = 0 — NULL,
    # not an ANSI divide-by-zero abort (hypothesis-caught; fixtures
    # never produce constant daily series but real data can).
    return m.select(
        "event_type",
        F.col("lag_k").cast("int"),
        F.col("n").cast("bigint"),
        pround(F.try_divide(num, den), 6).alias("autocorr"),
    )


# ---------------------------------------------------------------------------
# ts_cusum_change — CUSUM change-point detection on integer deviations
# ---------------------------------------------------------------------------


@query(
    "ts_cusum_change",
    oracle=f"""
    WITH d AS (
      SELECT event_type, {_DAY_SQL} AS day,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT event_type,
             CAST(SUM(v) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM d GROUP BY 1
    ), c AS (
      SELECT d.event_type, d.day,
             SUM(d.v * g.nd - g.tot) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cusum_scaled
      FROM d JOIN g ON g.event_type = d.event_type
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN ABS(cusum_scaled) = mx THEN day END)
                AS BIGINT) AS change_day,
           CAST(MAX(mx) AS BIGINT) AS max_cusum_scaled
    FROM (
      SELECT event_type, day, cusum_scaled,
             MAX(ABS(cusum_scaled)) OVER (PARTITION BY event_type) AS mx
      FROM c
    ) GROUP BY 1
    """,
)
def ts_cusum_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: per type, the day where the
    cumulative deviation from the series mean peaks — the classic
    'when did the level shift' estimator (argmax |Σ(xᵢ - x̄)|).

    INTEGER-EXACT via common-denominator scaling: instead of
    Σ(x - tot/n) (a float running sum whose ties are engine-dependent),
    both engines accumulate Σ(x·n - tot) — the same quantity scaled by
    n, exact in bigint — so the argmax day and tie-break (min day at
    the max) are bit-stable. One day-grain rollup, a 1-row-per-type
    totals broadcast, one ordered window per type.
    """
    e = load(spark, sf_dir, "events")
    d = (
        e.select("event_type", F.floor(F.unix_timestamp("ts") / 86400)
                 .cast("bigint").alias("day"), cents_col(F.col("value")).alias("c"))
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
    )
    return cusum_core(d)


def cusum_core(d: DataFrame) -> DataFrame:
    """The common-denominator-scaled CUSUM argmax over any day-grain
    frame (event_type, day, v) — factored for the hypothesis reference
    check."""
    g = d.groupBy("event_type").agg(
        F.sum("v").alias("tot"), F.count("*").alias("nd")
    )
    w_run = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.join(F.broadcast(g), "event_type").select(
        "event_type",
        "day",
        F.sum(F.col("v") * F.col("nd") - F.col("tot"))
        .over(w_run)
        .alias("cusum_scaled"),
    )
    mx = c.select(
        "event_type",
        "day",
        "cusum_scaled",
        F.max(F.abs("cusum_scaled"))
        .over(W.partitionBy("event_type"))
        .alias("mx"),
    )
    return mx.groupBy("event_type").agg(
        F.min(
            F.when(F.abs("cusum_scaled") == F.col("mx"), F.col("day"))
        )
        .cast("bigint")
        .alias("change_day"),
        F.max("mx").cast("bigint").alias("max_cusum_scaled"),
    )


# ---------------------------------------------------------------------------
# agg_benford_audit — first-digit distribution vs Benford's law
# ---------------------------------------------------------------------------


@query(
    "agg_benford_audit",
    oracle="""
    WITH c AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ), d AS (
      SELECT CAST(SUBSTRING(CAST(cents AS VARCHAR), 1, 1) AS INT)
               AS first_digit
      FROM c
    ), g AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
    SELECT g.first_digit, g.n,
           ROUND(CAST(g.n AS DOUBLE) / t.tot, 6) AS observed_share,
           ROUND(LOG10(1.0 + 1.0 / g.first_digit), 6) AS benford_share
    FROM g CROSS JOIN t
    """,
)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fraud/synthetic-data screen: observed leading-digit shares next to
    the log₁₀(1 + 1/d) expectation.

    Digit extraction is by STRING slicing of the exact cent integers —
    floor(log₁₀) digit math risks ulp flips at powers of ten; the
    decimal string has one spelling on both engines. One map-combined
    9-row histogram, a 1-row total broadcast back; log10 of the nine
    constants 1+1/d is correctly-rounded on both engines.
    """
    o = load(spark, sf_dir, "orders")
    c = o.filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    )
    g = (
        c.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count("*").alias("n"))
    )
    t = g.agg(F.sum("n").alias("tot"))
    return g.crossJoin(F.broadcast(t)).select(
        "first_digit",
        F.col("n").cast("bigint"),
        pround(F.col("n").cast("double") / F.col("tot"), 6).alias(
            "observed_share"
        ),
        pround(F.log10(1.0 + 1.0 / F.col("first_digit")), 6).alias(
            "benford_share"
        ),
    )


# ---------------------------------------------------------------------------
# agg_gini_concentration — Gini coefficient of per-user activity
# ---------------------------------------------------------------------------


@query(
    "agg_gini_concentration",
    oracle=f"""
    WITH u AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, x,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY x, user_id) AS BIGINT) AS i
      FROM u
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r GROUP BY 1
    )
    SELECT event_type, n,
           ROUND((2.0 * six - CAST(n + 1 AS DOUBLE) * sx)
                 / (CAST(n AS DOUBLE) * sx), 6) AS gini
    FROM m
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts per type — 'how
    concentrated is activity among power users', the inequality metric
    behind sampling-quota and abuse thresholds.

    Closed form G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    ascending-ranked counts: all three sums are exact bigints (ranks
    tie-broken by user_id so Σi·xᵢ is identical on both engines — with
    equal x the sum is tie-order-invariant anyway, belt and braces),
    leaving three float ops. One user aggregation, one per-type ranking
    window over user-grain rows, one final 5-row reduce.
    """
    e = load(spark, sf_dir, "events")
    u = e.groupBy("event_type", "user_id").agg(F.count("*").alias("x"))
    return gini_core(u)


def gini_core(u: DataFrame) -> DataFrame:
    """The rank-closed-form Gini over any (event_type, user_id, x)
    frame — factored for the hypothesis reference check."""
    r = u.select(
        "event_type",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("x", "user_id"))
        .cast("bigint")
        .alias("i"),
    )
    m = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint"),
        pround(
            (2.0 * F.col("six") - (F.col("n") + 1).cast("double") * F.col("sx"))
            / (F.col("n").cast("double") * F.col("sx")),
            6,
        ).alias("gini"),
    )
