"""Round-8 seed operators — SQL-surface depth (LATERAL correlated
top-k, higher-order array/map lambdas), robust/statistical analytics
(Welch A/B test, MAD outliers, linear interpolation, exact-window EWMA),
data-quality and maintenance machinery (constraint report, one-pass
table profiler, small-file compaction), training-data curation growth
(epoch-aware mixture planning, chat-template rendering), the remaining
bag set-op (INTERSECT ALL), a scalable running-distinct rewrite, and
the Spark 4 ``transformWithStateInPandas`` stateful-streaming surface —
15 operators, all oracled (the streaming op is batch-checked, the
proven engine.streaming pattern).

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory, continuing the r4→r7
growth playbook.

Import discipline: leaf modules only at module scope (det / registry /
session / stream_source) — NEXT rotation this module registers ahead of
the proven families, and any operator-module import here would drag that
module's registrations ahead of ours in the driver's capped correctness
window (the pattern proven by seeds5-7).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, cents_col, pround
from engine.registry import query
from engine.session import load


AB_PAIR = ("click", "view")  # unused: all unordered pairs are emitted
MAD_K = 4.4478  # 3 × 1.4826 (normal-consistency), one literal both engines
EWMA_LAGS = 8  # trailing window; α = 1/2 ⇒ weights 2^-k are EXACT doubles
MIXTURE_MAX_EPOCHS = 4
COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4
LAMBDA_HOT = 0.15


# ---------------------------------------------------------------------------
# sql_lateral_topk — correlated LATERAL subquery with ORDER BY ... LIMIT
# ---------------------------------------------------------------------------


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.price_cents
    FROM customer c
    JOIN LATERAL (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY price_cents DESC, o_orderkey
      LIMIT 2
    ) t ON TRUE
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-k: each customer's 2 most expensive orders,
    expressed as the SQL-standard ``JOIN LATERAL (ORDER BY ... LIMIT 2)``.

    Scale design: Catalyst DECORRELATES the lateral subquery — the plan
    is a window rank over one o_custkey shuffle plus a join, never a
    per-customer re-scan of orders (the execution a naive nested-loop
    lateral implies; plan pinned in tests/test_plans.py). Ordering is on
    exact integer cents with o_orderkey as the unique tiebreak, so the
    kept set is bit-stable across engines.
    """
    for t in ("customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.price_cents
        FROM lat_customer c
        JOIN LATERAL (
          SELECT o_orderkey,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS price_cents
          FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY price_cents DESC, o_orderkey
          LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# fn_lambda_surface — higher-order array functions (transform/filter/
# exists/aggregate) over the embedding column
# ---------------------------------------------------------------------------


@query(
    "fn_lambda_surface",
    oracle=f"""
    SELECT vec_id,
           ROUND(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6)
             AS sum_sq,
           ROUND(list_aggregate(list_transform(embedding,
                 x -> ABS(CAST(x AS DOUBLE))), 'sum'), 6) AS l1_norm,
           CAST(LEN(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(LEN(list_filter(embedding, x -> x > {LAMBDA_HOT})) > 0
                AS INT) AS has_hot
    FROM embeddings
    """,
)
def fn_lambda_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambda surface (SURVEY.md §2.H growth):
    ``transform`` / ``filter`` / ``exists`` / ``aggregate`` over the
    embedding vectors — sum of squares, L1 norm, positive-component
    count, hot-component flag.

    All four stay JVM-side (no Python UDF, no Arrow hop): lambdas
    compile to Catalyst HigherOrderFunction expressions (interpreted
    eval — Spark excludes them from whole-stage codegen — but still
    Tungsten-array-backed), and the plan is map-only with ZERO
    exchanges: per-vector feature math at scan bandwidth, the 100 TB
    shape. Determinism: both engines fold the array LEFT-TO-RIGHT
    over float→double promoted elements (probed bit-identical against
    DuckDB list_aggregate), rounded to 6 dp belt-and-braces.
    """
    e = load(spark, sf_dir, "embeddings")
    x2 = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    ax = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0).cast("double"), lambda a, x: a + x
    )
    return e.select(
        "vec_id",
        pround(fold(x2), 6).alias("sum_sq"),
        pround(fold(ax), 6).alias("l1_norm"),
        F.size(F.filter("embedding", lambda x: x > F.lit(0.0))).cast(
            "bigint"
        ).alias("n_pos"),
        F.exists("embedding", lambda x: x > F.lit(LAMBDA_HOT)).cast("int").alias(
            "has_hot"
        ),
    )


# ---------------------------------------------------------------------------
# fn_map_surface — map construction + map_filter / transform_values
# ---------------------------------------------------------------------------


@query(
    "fn_map_surface",
    oracle="""
    SELECT user_id, event_type,
           CAST(cnt * 10 + 1 AS BIGINT) AS boosted
    FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ) WHERE cnt >= 3
    """,
)
def fn_map_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (SURVEY.md §2.H growth): per-user
    event-type counts built into a ``map<string,bigint>`` via
    ``map_from_entries``, pruned with ``map_filter`` (keep counts ≥ 3),
    rescored with ``transform_values``, and exploded back to rows.

    The map round-trip is the point — feature dictionaries ride through
    pipelines as map columns at 100 TB, and the lambda ops keep the
    manipulation JVM-side (no UDF, map stays Tungsten-encoded). The
    exploded row SET is deterministic even though map iteration order is
    not (the driver's compare is order-insensitive). Alphabet-bounded:
    ≤ 5 entries per user's map.
    """
    e = load(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    kept = m.select(
        "user_id",
        F.transform_values(
            F.map_filter("m", lambda k, v: v >= F.lit(3)),
            lambda k, v: v * 10 + 1,
        ).alias("m"),
    )
    ex = kept.select("user_id", F.explode("m").alias("event_type", "boosted"))
    return ex.select("user_id", "event_type", F.col("boosted").cast("bigint"))


# ---------------------------------------------------------------------------
# ts_interpolate_linear — gap interpolation over the daily spine
# ---------------------------------------------------------------------------


@query(
    "ts_interpolate_linear",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             (MAX({{'ts': ts, 'id': event_id, 'c': {_CENTS_SQL}}})).c
               AS close_c
      FROM events
      WHERE user_id IS NOT NULL
        AND ts >= TIMESTAMP '1990-01-01 00:00:00'
        AND ts <  TIMESTAMP '2100-01-01 00:00:00'
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY user_id
    ), spine AS (
      SELECT s.user_id, UNNEST(GENERATE_SERIES(s.d0, s.d1)) AS day FROM span s
    ), j AS (
      SELECT sp.user_id, sp.day, d.close_c,
             CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS obs
      FROM spine sp LEFT JOIN d ON d.user_id = sp.user_id AND d.day = sp.day
    ), f AS (
      SELECT user_id, day, obs, close_c,
             LAST_VALUE(close_c IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN obs = 1 THEN day END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             FIRST_VALUE(close_c IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN obs = 1 THEN day END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT user_id, day, CAST(obs AS INT) AS is_observed,
           ROUND(CASE WHEN obs = 1 THEN close_c
                      ELSE pv + (nv - pv) * (day - pd) / (nd - pd)
                 END, 4) AS v_cents
    FROM f
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across activity gaps: per user, the dense
    daily spine between first and last active day, with missing days
    filled by the straight line between the surrounding observed daily
    closes — the regression-grade companion of ``ts_gap_fill``'s
    forward-fill (engine/training_ops.py).

    Determinism: closes are exact integer cents; the interpolation
    ``pv + (nv-pv)·(day-pd)/(nd-pd)`` is the same literal IEEE
    expression on both engines over exact integers (one divide, one
    multiply, one add — no summation-order surface). Edges are always
    observed (the spine spans min..max observed day), so nv/pv never
    NULL inside the frame. Scale: the Spark plan NEVER materializes a
    spine join — each observed day carries its successor via lead(),
    then explodes only its own gap segment [day, next_day), so the
    whole query is ONE fact scan, ONE user_id exchange, one window
    pass, one bounded explode (pinned in test_seeds8_properties; the
    oracle keeps the textbook spine-join formulation, proving the
    rewrite). Gap fan-out is bounded by the calendar span per user.
    """
    # NULL-user rows dropped at ingest (unattributable; see the
    # NULL-join-key exact sweep) — the oracle's spine join would never
    # match them while lead() would chain through them. Epoch-domain
    # guard 1990..2100: the gap segments span [day, next_day), so one
    # sentinel timestamp (epoch 0 / year 9999) explodes a user's
    # segment to ~3M days — bounded under arbitrary input instead
    # (sentinel-timestamps exact sweep; same guard as ts_gap_fill).
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .filter(
            (F.col("ts") >= F.lit("1990-01-01 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2100-01-01 00:00:00").cast("timestamp"))
        )
        .repartition("user_id")
    )
    d = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            cents_col(F.col("value")).alias("c"),
            "ts",
            "event_id",
        )
        .groupBy("user_id", "day")
        # Deterministic daily close: lexicographic struct max over the
        # UNIQUE (ts, event_id) prefix — max_by(c, ts) alone is
        # arbitrary among tied timestamps and engine-divergent (caught
        # by the tied-timestamps exact sweep, tests/test_tied_timestamps.py).
        .agg(
            F.max(F.struct("ts", "event_id", "c"))
            .getField("c")
            .alias("close_c")
        )
    )
    return interpolate_core(d)


def interpolate_core(d: DataFrame) -> DataFrame:
    """The lead()+sequence gap-segment interpolation over any day-grain
    frame (user_id, day, close_c) — factored for the hypothesis
    reference check (tests/test_seeds89_refchecks.py)."""
    w = W.partitionBy("user_id").orderBy("day")
    seg = d.select(
        "user_id",
        F.col("day").alias("pd"),
        F.col("close_c").alias("pv"),
        F.lead("day").over(w).alias("nd"),
        F.lead("close_c").over(w).alias("nv"),
    )
    ex = seg.select(
        "user_id",
        "pd",
        "pv",
        "nd",
        "nv",
        F.explode(
            F.sequence(
                "pd", F.coalesce(F.col("nd") - 1, F.col("pd"))
            )
        ).alias("day"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("day") - F.col("pd")
    ) / (F.col("nd") - F.col("pd"))
    obs = F.col("day") == F.col("pd")
    return ex.select(
        "user_id",
        "day",
        obs.cast("int").alias("is_observed"),
        pround(F.when(obs, F.col("pv")).otherwise(interp), 4).alias(
            "v_cents"
        ),
    )


# ---------------------------------------------------------------------------
# events_ab_welch — Welch's t-test across event-type pairs
# ---------------------------------------------------------------------------


@query(
    "events_ab_welch",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS s1,
             CAST(SUM({_CENTS_SQL} * {_CENTS_SQL}) AS BIGINT) AS s2
      FROM events GROUP BY 1
    ), st AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mean_c,
             (s2 - CAST(s1 AS DOUBLE) * s1 / n) / NULLIF(n - 1, 0) AS var_c
      FROM s
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           ROUND(a.mean_c, 4) AS mean_a,
           ROUND(b.mean_c, 4) AS mean_b,
           ROUND((a.mean_c - b.mean_c)
                 / NULLIF(SQRT(a.var_c / a.n + b.var_c / b.n), 0), 4)
             AS t_stat,
           ROUND((a.var_c / a.n + b.var_c / b.n)
                 * (a.var_c / a.n + b.var_c / b.n)
                 / NULLIF((a.var_c / a.n) * (a.var_c / a.n) / (a.n - 1)
                          + (b.var_c / b.n) * (b.var_c / b.n) / (b.n - 1),
                          0), 4) AS welch_df
    FROM st a JOIN st b ON a.event_type < b.event_type
    """,
)
def events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between every pair of event types
    on per-event value — the A/B-experiment readout (t statistic +
    Welch–Satterthwaite df) computed from one aggregate pass.

    Scale design: the fact scan reduces to ONE 5-row moment table
    (n, Σc, Σc² per type — map-side combined, exact BIGINT cents so the
    sums are order-independent); the pair grid is a broadcast self-join
    of that alphabet-bounded table. All downstream stats are the same
    literal IEEE expression over exact integers on both engines. At
    ~10¹² rows Σc² approaches the bigint range — the production variant
    swaps the two sums to DECIMAL(38,0) (still exact, still mergeable);
    fixture SFs stay well inside bigint.
    """
    e = load(spark, sf_dir, "events")
    c = cents_col(F.col("value"))
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c * c).alias("s2"),
    )
    st = s.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_c"),
        # try_divide: a single-event type has n−1 = 0 — NULL sample
        # variance (and NULL t/df downstream), not an ANSI abort
        # (one-row + zero-values exact sweeps); oracle NULLIFs mirror.
        F.try_divide(
            F.col("s2")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n"),
            F.col("n") - 1,
        ).alias("var_c"),
    )
    a, b = st.alias("a"), st.alias("b")
    va_n = F.col("a.var_c") / F.col("a.n")
    vb_n = F.col("b.var_c") / F.col("b.n")
    return (
        a.join(
            F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")
        ).select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            pround(F.col("a.mean_c"), 4).alias("mean_a"),
            pround(F.col("b.mean_c"), 4).alias("mean_b"),
            pround(
                F.try_divide(
                    F.col("a.mean_c") - F.col("b.mean_c"),
                    F.sqrt(va_n + vb_n),
                ),
                4,
            ).alias("t_stat"),
            pround(
                F.try_divide(
                    (va_n + vb_n) * (va_n + vb_n),
                    va_n * va_n / (F.col("a.n") - 1)
                    + vb_n * vb_n / (F.col("b.n") - 1),
                ),
                4,
            ).alias("welch_df"),
        )
    )


# ---------------------------------------------------------------------------
# events_anomaly_mad — median-absolute-deviation robust outliers
# ---------------------------------------------------------------------------


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {_CENTS_SQL} AS c FROM events
    ), med AS (
      SELECT event_type, QUANTILE_CONT(c, 0.5) AS med_c FROM c GROUP BY 1
    ), dev AS (
      SELECT c.event_type, c.c, m.med_c, ABS(c.c - m.med_c) AS ad
      FROM c JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, QUANTILE_CONT(ad, 0.5) AS mad_c
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(d.med_c), 4) AS median_c,
           ROUND(MIN(m.mad_c), 4) AS mad_c,
           CAST(SUM(CASE WHEN d.ad > {MAD_K} * m.mad_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median / MAD / count of
    events beyond 3·1.4826·MAD — the heavy-tail-safe companion of
    ``events_anomaly_zscore`` (mean/σ break down exactly when outliers
    are present; the median pair does not).

    Determinism: cents are exact integers, so both exact interpolated
    medians land on .0/.5 halves and deviations on quarter-multiples —
    the single ``{MAD_K}·mad`` multiply is one IEEE op on those exact
    values, identical across engines (no summation-order surface at
    all). Scale: two percentile passes over the SAME event_type
    partitioning; the 5-row median/mad tables broadcast back. The
    100 TB swap is approx_percentile for the two medians
    (agg_percentile_drift audits exactly that substitution).
    """
    e = load(spark, sf_dir, "events")
    c = e.select("event_type", cents_col(F.col("value")).alias("c"))
    med = c.groupBy("event_type").agg(
        F.percentile("c", F.lit(0.5)).alias("med_c")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_c",
        F.abs(F.col("c") - F.col("med_c")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad_c")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            pround(F.min("med_c"), 4).alias("median_c"),
            pround(F.min("mad_c"), 4).alias("mad_c"),
            F.sum(
                F.when(F.col("ad") > F.lit(MAD_K) * F.col("mad_c"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# win_running_distinct — running distinct-count, the scalable rewrite
# ---------------------------------------------------------------------------


@query(
    "win_running_distinct",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(is_first) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_types_seen
    FROM m
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user over event time —
    expressed as first-occurrence markers + a running sum, NOT a
    ``collect_set`` window.

    The rewrite IS the operator: a distinct-accumulating window carries
    O(alphabet) state per row and collapses to a single partition's
    memory at scale, while ``row_number()=1`` markers + a running sum
    are plain streaming window aggregates with O(1) per-row state —
    the shape that survives 100 TB. The explicit user_id repartition
    makes BOTH windows run off ONE exchange: hashpartitioning(user_id)
    satisfies the marker window's (user_id, event_type) clustering AND
    the running sum's user_id clustering, so the plan is
    exchange → sort → window → sort → window (pinned in
    tests/test_seeds8_properties.py — the funnel-proven shared-shuffle
    pattern). Ties broken by the unique (ts, event_id) order on both
    engines.
    """
    return running_distinct_core(
        load(spark, sf_dir, "events").repartition("user_id")
    )


def running_distinct_core(e: DataFrame) -> DataFrame:
    """The marker+running-sum rewrite over any events-shaped frame
    (event_id, user_id, ts, event_type) — factored for the hypothesis
    reference check (tests/test_seeds89_refchecks.py)."""
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    m = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    return m.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_run).cast("bigint").alias("n_types_seen"),
    )


# ---------------------------------------------------------------------------
# ts_ewma_smooth — exact trailing EWMA (α = 1/2) over daily closes
# ---------------------------------------------------------------------------


def _ewma_terms_sql() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(LAG(close_c, {k}) OVER w * {0.5 ** k!r}, 0)"
        for k in range(EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN LAG(close_c, {k}) OVER w IS NULL THEN 0 ELSE {0.5 ** k!r} END"
        for k in range(EWMA_LAGS)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_terms_sql()


@query(
    "ts_ewma_smooth",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             (MAX({{'ts': ts, 'id': event_id, 'c': {_CENTS_SQL}}})).c
               AS close_c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day, close_c,
           ROUND(({_EWMA_NUM}) / ({_EWMA_DEN}), 4) AS ewma_c
    FROM d
    WINDOW w AS (PARTITION BY user_id ORDER BY day)
    """,
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = ½) of each user's
    daily close over the trailing 8 active days.

    BIT-EXACT by construction, not by rounding luck: with α = ½ the
    weights 2⁻ᵏ are exact doubles, closes are exact integer cents, so
    every term xₖ·2⁻ᵏ is an exact multiple of 2⁻⁷ and the short sums
    are exact regardless of addend order — the only rounding in the
    whole expression is the final divide. (A free-α EWMA would hit both
    pow() libm drift and summation-order drift across engines.) The
    frame is ROW-based over the user's observed-day sequence; the
    explicit user_id repartition gives the day-grain aggregate and the
    window ONE shared exchange, and all 8 lags evaluate in a single
    window pass. Recursive infinite-memory EWMA at 100 TB would
    serialize per key — the truncated window (weight tail < 1/128) is
    the distributed form.
    """
    e = load(spark, sf_dir, "events").repartition("user_id")
    d = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            cents_col(F.col("value")).alias("c"),
            "ts",
            "event_id",
        )
        .groupBy("user_id", "day")
        # Deterministic daily close: lexicographic struct max over the
        # UNIQUE (ts, event_id) prefix — max_by(c, ts) alone is
        # arbitrary among tied timestamps and engine-divergent (caught
        # by the tied-timestamps exact sweep, tests/test_tied_timestamps.py).
        .agg(
            F.max(F.struct("ts", "event_id", "c"))
            .getField("c")
            .alias("close_c")
        )
    )
    return ewma_core(d)


def ewma_core(d: DataFrame) -> DataFrame:
    """The truncated dyadic-weight EWMA over any day-grain frame
    (user_id, day, close_c) — factored for the hypothesis reference
    check (tests/test_seeds89_refchecks.py)."""
    w = W.partitionBy("user_id").orderBy("day")
    num = None
    den = None
    for k in range(EWMA_LAGS):
        lagk = F.lag("close_c", k).over(w)
        wk = F.lit(0.5**k)
        t = F.coalesce(lagk * wk, F.lit(0.0))
        p = F.when(lagk.isNull(), F.lit(0.0)).otherwise(wk)
        num = t if num is None else num + t
        den = p if den is None else den + p
    # try_divide: a row whose own close AND entire 8-day history are
    # NULL (all-null-payload twin; a user whose tracked measure never
    # materialized) has den = 0 — ANSI would abort the whole job on
    # that one row; NULL is the honest EWMA of no observations, and
    # DuckDB's divide-by-zero is NULL so the oracle already agrees.
    return d.select(
        "user_id",
        "day",
        "close_c",
        pround(F.try_divide(num, den), 4).alias("ewma_c"),
    )


# ---------------------------------------------------------------------------
# dq_constraint_report — declarative data-quality expectations
# ---------------------------------------------------------------------------


@query(
    "dq_constraint_report",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'events_value_nonneg', CAST(COUNT(*) AS BIGINT)
    FROM events WHERE value < 0
    UNION ALL
    SELECT 'documents_nchars_consistent', CAST(COUNT(*) AS BIGINT)
    FROM documents WHERE n_chars <> LENGTH(text)
    UNION ALL
    SELECT 'orders_status_domain', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
    UNION ALL
    SELECT 'events_eventid_unique',
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
    FROM events
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (great-expectations-style): six
    declarative constraints — two foreign keys (anti-join counts), a
    range check, a derived-column consistency check, a domain check,
    and a primary-key uniqueness check — evaluated in one report of
    (check_name, violations).

    Every check is a plain DataFrame aggregate, so Catalyst plans each
    with the cheapest strategy at hand (FKs become broadcast/shuffled
    anti-joins with the dim side broadcast when small; the range/domain
    checks are map-side conditional counts). At 100 TB the checks run
    as ONE pass per fact table — the unioned single-row aggregates are
    metadata-sized. A pipeline gates promotion on violations = 0.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    e = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("violations"),
        )

    fk_orders = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti"
    )
    fk_lineitem = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
    checks = [
        one("orders_custkey_fk", fk_orders),
        one("lineitem_orderkey_fk", fk_lineitem),
        one("events_value_nonneg", e.filter(F.col("value") < 0)),
        one(
            "documents_nchars_consistent",
            docs.filter(F.col("n_chars") != F.length("text")),
        ),
        one(
            "orders_status_domain",
            o.filter(~F.col("o_orderstatus").isin("F", "O", "P")),
        ),
    ]
    uniq = e.select(
        F.lit("events_eventid_unique").alias("check_name"),
        (F.count("*") - F.count_distinct("event_id"))
        .cast("bigint")
        .alias("violations"),
    )
    out = checks[0]
    for df in checks[1:] + [uniq]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# profile_table_stats — one-pass multi-column table profiler
# ---------------------------------------------------------------------------

_PROFILE_NUM_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
)
_PROFILE_STR_COLS = ("l_returnflag", "l_linestatus")


def _profile_oracle() -> str:
    parts = []
    for col in _PROFILE_NUM_COLS:
        parts.append(f"""
        SELECT '{col}' AS column_name,
               CAST(COUNT({col}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(MIN({col}) AS BIGINT) AS min_num,
               CAST(MAX({col}) AS BIGINT) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem""")
    for col in _PROFILE_STR_COLS:
        parts.append(f"""
        SELECT '{col}', CAST(COUNT({col}) AS BIGINT),
               CAST(COUNT(DISTINCT {col}) AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               MIN({col}), MAX({col})
        FROM lineitem""")
    return " UNION ALL ".join(parts)


@query("profile_table_stats", oracle=_profile_oracle())
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler over lineitem: per column — non-null
    count, exact distinct count, min/max (numeric columns as exact
    longs, string columns lexically) — the `df.summary()`-grade profile
    a curation pipeline records per shard.

    ALL columns profile in a single groupBy().agg() over ONE scan; the
    multi-column exact count-distincts plan through Catalyst's Expand
    (one shuffle carrying a 7-way tagged union — ~7× the row count but
    map-side partially aggregated; quantity is integral by fixture so
    it profiles as a long). At 100 TB the exact distincts swap to
    approx_count_distinct, collapsing Expand to a plain single-pass agg
    — agg_hll_drift audits exactly that substitution.
    """
    li = load(spark, sf_dir, "lineitem").withColumn(
        "l_quantity", F.col("l_quantity").cast("bigint")
    )
    aggs = []
    for col in _PROFILE_NUM_COLS + _PROFILE_STR_COLS:
        aggs += [
            F.count(col).alias(f"{col}__n"),
            F.count_distinct(F.col(col)).alias(f"{col}__d"),
            F.min(col).alias(f"{col}__mn"),
            F.max(col).alias(f"{col}__mx"),
        ]
    row = li.agg(*aggs)
    stacked = []
    for col in _PROFILE_NUM_COLS:
        stacked.append(
            row.select(
                F.lit(col).alias("column_name"),
                F.col(f"{col}__n").cast("bigint").alias("n_nonnull"),
                F.col(f"{col}__d").cast("bigint").alias("n_distinct"),
                F.col(f"{col}__mn").cast("bigint").alias("min_num"),
                F.col(f"{col}__mx").cast("bigint").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for col in _PROFILE_STR_COLS:
        stacked.append(
            row.select(
                F.lit(col).alias("column_name"),
                F.col(f"{col}__n").cast("bigint").alias("n_nonnull"),
                F.col(f"{col}__d").cast("bigint").alias("n_distinct"),
                F.lit(None).cast("bigint").alias("min_num"),
                F.lit(None).cast("bigint").alias("max_num"),
                F.col(f"{col}__mn").alias("min_str"),
                F.col(f"{col}__mx").alias("max_str"),
            )
        )
    out = stacked[0]
    for df in stacked[1:]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# sink_compaction — small-file compaction maintenance pass
# ---------------------------------------------------------------------------


@query(
    "sink_compaction",
    oracle=f"""
    SELECT CAST(LEAST({COMPACT_SMALL_FILES}, GREATEST(COUNT(*), 1))
                AS INT) AS files_before,
           CAST(LEAST({COMPACT_TARGET_FILES}, GREATEST(COUNT(*), 1))
                AS INT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS INT) AS checksum_ok
    FROM events
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — THE steady-state maintenance op for any
    100 TB table fed by streaming/incremental writes: a fragmented
    events copy (64 round-robin files) is rewritten to 4 well-sized
    files, preserving row count and the exact integer-cent checksum.

    The audit row proves the invariants a real compactor must hold:
    file count drops to target, zero rows lost, content checksum
    unchanged. File counts come from a driver-side listing of the
    written directory (metadata, not data); the oracle's file counts
    are input-aware — Spark's parquet writer emits files only for
    non-empty partitions (min 1), so a table smaller than the file
    count yields LEAST(files, GREATEST(rows, 1)) (pinned by the
    empty/one-row exact sweeps). At scale the pattern is
    per-partition compaction with maxRecordsPerFile sizing each output
    near the 128 MB parquet sweet spot; the round numbers here keep the
    audit deterministic at every SF.
    """
    e = load(spark, sf_dir, "events")
    tmp = Path(tempfile.mkdtemp(prefix="compact_"))
    try:
        frag_dir, comp_dir = tmp / "frag", tmp / "compact"
        e.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(
            str(frag_dir)
        )
        files_before = len(list(frag_dir.glob("part-*.parquet")))
        frag = spark.read.parquet(str(frag_dir))
        frag.repartition(COMPACT_TARGET_FILES).write.mode(
            "overwrite"
        ).parquet(str(comp_dir))
        files_after = len(list(comp_dir.glob("part-*.parquet")))
        comp = spark.read.parquet(str(comp_dir))

        def checksum(df: DataFrame):
            r = df.agg(
                F.count("*").alias("n"), F.sum(cents_col(F.col("value"))).alias("s")
            ).collect()[0]
            return r["n"], r["s"]

        n0, s0 = checksum(e)
        n1, s1 = checksum(comp)
        ok = int(n0 == n1 and s0 == s1)
        out = [(files_before, files_after, n1, ok)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "files_before int, files_after int, n_rows bigint, checksum_ok int"
    )


# ---------------------------------------------------------------------------
# llm_mixture_epochs — epoch-aware domain mixture planning
# ---------------------------------------------------------------------------


@query(
    "llm_mixture_epochs",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ), g AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM t
    )
    SELECT t.source, t.tokens,
           ROUND(CAST(t.tokens AS DOUBLE) / g.total, 6) AS natural_share,
           CAST(LEAST({MIXTURE_MAX_EPOCHS} * t.tokens, g.total // g.k)
                AS BIGINT) AS sampled_tokens,
           ROUND(CAST(LEAST({MIXTURE_MAX_EPOCHS} * t.tokens, g.total // g.k)
                      AS DOUBLE) / t.tokens, 4) AS repeat_factor
    FROM t CROSS JOIN g
    """,
)
def llm_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware training-mixture planner: given a uniform per-domain
    token target (total/k), each source contributes
    min(MAX_EPOCHS·tokens, total/k) tokens — small domains repeat up to
    4 epochs, large domains downsample — the repeat-factor schedule
    behind 'don't epoch the big crawl, do epoch the small quality
    corpora'.

    The sampled-token arithmetic is ENTIRELY integer
    (min(4·tokens, total div k)) so no float boundary can flip a plan
    across engines; only the reported shares divide. Scale: one
    map-combined token count per source (alphabet-sized result), the
    1-row global broadcast back — same shape as llm_temperature_mixture
    but with the epoch cap replacing temperature scaling.
    """
    d = load(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens")
    )
    g = t.agg(
        F.sum("tokens").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("k"),
    )
    j = t.crossJoin(F.broadcast(g))
    sampled = F.least(
        F.lit(MIXTURE_MAX_EPOCHS) * F.col("tokens"),
        (F.col("total") / F.col("k")).cast("bigint"),
    )
    # NB: Spark's / on bigints is double division; integer-exact form:
    sampled = F.least(
        F.lit(MIXTURE_MAX_EPOCHS) * F.col("tokens"),
        F.floor(F.col("total") / F.col("k")).cast("bigint"),
    )
    return j.select(
        "source",
        "tokens",
        pround(F.col("tokens").cast("double") / F.col("total"), 6).alias(
            "natural_share"
        ),
        sampled.alias("sampled_tokens"),
        pround(sampled.cast("double") / F.col("tokens"), 4).alias(
            "repeat_factor"
        ),
    )


# ---------------------------------------------------------------------------
# set_intersect_all — bag-semantics INTERSECT ALL
# ---------------------------------------------------------------------------


@query(
    "set_intersect_all",
    oracle="""
    WITH i AS (
      SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events WHERE event_type = 'click'
      INTERSECT ALL
      SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)
      FROM events WHERE event_type = 'view'
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM i GROUP BY 1
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL via ``DataFrame.intersectAll``: the
    (user, day) multiset of click events ∩ the view multiset — each
    common pair survives min(click-multiplicity, view-multiplicity)
    times — then aggregated per user. Completes the §2.G bag set-op
    surface next to seeds6's ``set_except_all``.

    Catalyst plans intersectAll as a counted aggregate on the grouping
    key (min of the two per-side counts, replicated) — one shuffle on
    (user_id, day), never a join explosion on duplicate keys. The
    follow-up per-user rollup is a second, strictly smaller shuffle.
    """
    e = load(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", day)
    views = e.filter(F.col("event_type") == "view").select("user_id", day)
    return (
        clicks.intersectAll(views)
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )


# ---------------------------------------------------------------------------
# llm_chat_template — deterministic chat-format rendering
# ---------------------------------------------------------------------------


@query(
    "llm_chat_template",
    oracle="""
    WITH r AS (
      SELECT doc_id,
             '{"messages":[{"role":"user","content":"' || text ||
             '"},{"role":"assistant","content":"tokens=' ||
             CAST(LEN(STRING_SPLIT(text, ' ')) AS VARCHAR) || '"}]}'
               AS chat
      FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(chat) AS BIGINT) AS chat_len,
           MD5(chat) AS chat_md5
    FROM r
    """,
)
def llm_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering for SFT-style export: each document
    becomes a two-turn JSON chat transcript (user: the text; assistant:
    a deterministic token-count stub), audited by length + MD5 so the
    byte-exact render is what's checked, not a lossy summary.

    The template is explicit string CONCATENATION, not to_json():
    serializer whitespace/escaping differs across engines, but both
    concatenate bytes identically (fixture text is quote-free by
    construction — FIXTURES.md). Map-only, whole-stage codegen, no
    shuffle: rendering cost is pure scan bandwidth, the right shape for
    exporting 100 TB to training shards. A production exporter streams
    this projection straight into sink_partitioned_parquet /
    llm_shard_manifest.
    """
    d = load(spark, sf_dir, "documents")
    chat = F.concat(
        F.lit('{"messages":[{"role":"user","content":"'),
        F.col("text"),
        F.lit('"},{"role":"assistant","content":"tokens='),
        F.size(F.split("text", " ")).cast("string"),
        F.lit('"}]}'),
    )
    return d.select(
        "doc_id",
        F.length(chat).cast("bigint").alias("chat_len"),
        F.md5(chat).alias("chat_md5"),
    )


# ---------------------------------------------------------------------------
# stream_tws_counter — Spark 4 transformWithStateInPandas surface
# ---------------------------------------------------------------------------


@query(
    "stream_tws_counter",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1
    """,
)
def stream_tws_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime (count, cent-sum) state — batch-checked form of
    the ``transformWithStateInPandas`` stateful streaming operator
    (tws_counter_stream below), the engine.streaming pattern: the
    registered query IS the semantic contract, the streaming run is
    asserted equal in tests/test_seeds8_properties.py.

    transformWithState is Spark 4's arbitrary-state API (typed state
    variables, timers, TTL — the applyInPandasWithState successor); the
    cent-sums keep state integer so stream and batch agree exactly.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(cents_col(F.col("value"))).cast("bigint").alias("sum_cents"),
    )


def tws_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming side: per-user running (n_events, sum_cents) via a
    ``StatefulProcessor`` with a typed ValueState, replayed from the
    events parquet through the shared file-stream source.

    State is O(active users) in the executor state store (RocksDB
    provider — required by transformWithState); each micro-batch folds
    its Arrow batches into the tuple state and emits the updated rows
    (update mode). At 100 TB a production processor adds state TTL; the
    fixture replay keeps every key live.

    Returns the streaming DataFrame; the test attaches a memory sink
    with availableNow and checks the final per-key rows equal the
    batch-checked :func:`stream_tws_counter`.

    CONTAINER CAVEAT (same honesty rule as surface4's avro probe): the
    transformWithState Python runner imports google.protobuf, which
    this container lacks (and installs are off-limits), so the
    streaming execution path is an UNTESTED surface here — the test
    probes for protobuf and skips with that exact reason. The
    batch-checked semantic contract above stays oracle-verified either
    way.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from engine.stream_source import events_stream

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    ev = events_stream(spark, sf_dir).select(
        "user_id", cents_col(F.col("value")).alias("c")
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("agg", "n BIGINT, s BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, s = (
                self.state.get() if self.state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                s += int(pdf["c"].sum())
            self.state.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]], dtype="int64"),
                    "n_events": pd.Series([n], dtype="int64"),
                    "sum_cents": pd.Series([s], dtype="int64"),
                }
            )

        def close(self) -> None:
            pass

    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Counter(),
        outputStructType="user_id long, n_events long, sum_cents long",
        outputMode="Update",
        timeMode="None",
    )
