"""Time-series and event-stream analytics over ``events`` (``ts_`` and
``events_`` queries): calendar rollups, forecasting and seasonality,
sessions and funnels, alerting statistics, and per-user behaviour.

Windows order by a unique key (or add a key tiebreaker) and floating
results go through the portable round (engine.det), so the DuckDB
oracles compare exactly. Per-user and per-day partitions bound
window state at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import (
    _CENTS_SQL,
    _DAY_SQL,
    cents_col,
    cents_sql,
    day_col,
    exact_sum,
    exact_sum_sql,
    pround,
)
from engine.registry import query
from engine.session import load


# ---------------------------------------------------------------------------
# Day-grain rollups shared by the ts_/events_ queries (and win_nth_value)
# ---------------------------------------------------------------------------


def type_day_cents(e: DataFrame) -> DataFrame:
    """Per-(event_type, day) exact integer-cent value sum ``v`` — the
    day-grain series the per-type ts_ queries score."""
    return (
        e.select(
            "event_type",
            day_col().alias("day"),
            cents_col(F.col("value")).alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
    )


def user_day_close(e: DataFrame) -> DataFrame:
    """Per-(user_id, day) deterministic daily close ``close_c`` (integer
    cents): the lexicographic struct max over the UNIQUE (ts, event_id)
    prefix. max_by(c, ts) alone is arbitrary among tied timestamps and
    engine-divergent (caught by the tied-timestamps exact sweep,
    tests/test_tied_timestamps.py)."""
    return (
        e.select(
            "user_id",
            day_col().alias("day"),
            cents_col(F.col("value")).alias("c"),
            "ts",
            "event_id",
        )
        .groupBy("user_id", "day")
        .agg(
            F.max(F.struct("ts", "event_id", "c"))
            .getField("c")
            .alias("close_c")
        )
    )


def user_days(e: DataFrame) -> DataFrame:
    """Distinct (user_id, day) activity rows."""
    return e.select("user_id", day_col().alias("day")).distinct()


RFM_R_DAYS = (1, 3)  # recency <= d3 -> 3, <= d2 -> 2, else 1
RFM_F_COUNTS = (16, 10)
RFM_M_VALUES = (700.0, 400.0)


@query(
    "events_rfm",
    oracle=f"""
    WITH anchor AS (
      SELECT CAST(MAX(ts) AS DATE) AS a FROM events
    ), per_user AS (
      SELECT user_id,
             DATE_DIFF('day', CAST(MAX(ts) AS DATE),
                       (SELECT a FROM anchor)) AS recency_days,
             COUNT(*) AS frequency,
             {exact_sum_sql(cents_sql("value"), 100)} AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, CAST(recency_days AS INT) AS recency_days,
           frequency, monetary,
           CAST(CASE WHEN recency_days <= {RFM_R_DAYS[0]} THEN 3
                     WHEN recency_days <= {RFM_R_DAYS[1]} THEN 2
                     ELSE 1 END AS INT) AS r_score,
           CAST(CASE WHEN frequency >= {RFM_F_COUNTS[0]} THEN 3
                     WHEN frequency >= {RFM_F_COUNTS[1]} THEN 2
                     ELSE 1 END AS INT) AS f_score,
           CAST(CASE WHEN monetary >= {RFM_M_VALUES[0]} THEN 3
                     WHEN monetary >= {RFM_M_VALUES[1]} THEN 2
                     ELSE 1 END AS INT) AS m_score
    FROM per_user
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    the purchase stream — the classic analytics rollup a metrics
    pipeline derives per user.

    One user_id aggregate; the anchor date (corpus max ts) is a 1-row
    broadcast. Scores use FIXED thresholds, not per-run quantiles, so
    segment membership is stable as data grows (quantile-based scores
    are the registered window ops' job). The monetary threshold is
    compared on the 2-dp-ROUNDED sum on both engines — raw
    double-summation order must not decide a boundary (§7.5).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor = load(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("a")
    )
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count("*").alias("frequency"),
            # exact cents sum (r10 quantization audit): the m_score
            # threshold compares this value, so membership must not
            # ride on accumulation order.
            exact_sum(cents_col(F.col("value")), 100).alias("monetary"),
        )
        .join(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("a"), F.col("last_d"))
            .cast("int")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r, f_, m = (
        F.col("recency_days"),
        F.col("frequency"),
        F.col("monetary"),
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.when(r <= RFM_R_DAYS[0], 3)
        .when(r <= RFM_R_DAYS[1], 2)
        .otherwise(1)
        .cast("int")
        .alias("r_score"),
        F.when(f_ >= RFM_F_COUNTS[0], 3)
        .when(f_ >= RFM_F_COUNTS[1], 2)
        .otherwise(1)
        .cast("int")
        .alias("f_score"),
        F.when(m >= RFM_M_VALUES[0], 3)
        .when(m >= RFM_M_VALUES[1], 2)
        .otherwise(1)
        .cast("int")
        .alias("m_score"),
    )


@query(
    "ts_ohlc_bars",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             {_DAY_SQL} AS day,
             ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ), w AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts, event_id) AS rna,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts DESC, event_id DESC) AS rnd
      FROM e
    )
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           ROUND(MAX(CASE WHEN rna = 1 THEN value END), 2) AS open,
           ROUND(MAX(value), 2) AS high,
           ROUND(MIN(value), 2) AS low,
           ROUND(MAX(CASE WHEN rnd = 1 THEN value END), 2) AS close
    FROM w GROUP BY user_id, day
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) daily bars per user over the purchase
    stream — the canonical time-series downsample a metrics store
    serves.

    Open/close are selected by ROW_NUMBER over the UNIQUE (ts,
    event_id) order — not min_by(ts) alone, because duplicate
    timestamps would make the pick an engine choice (§7.5). Both
    windows and the final aggregate hash-partition on (user_id, day),
    so the whole query is ONE exchange followed by two sorts and a
    partial-combined aggregate — the shape that holds at 100 TB of
    ticks.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        day_col().alias("day"),
        "ts",
        "event_id",
        "value",
    )
    wa = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = W.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rna", F.row_number().over(wa))
        .withColumn("rnd", F.row_number().over(wd))
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_trades"),
            pround(
                F.max(F.when(F.col("rna") == 1, F.col("value"))), 2
            ).alias("open"),
            pround(F.max("value"), 2).alias("high"),
            pround(F.min("value"), 2).alias("low"),
            pround(
                F.max(F.when(F.col("rnd") == 1, F.col("value"))), 2
            ).alias("close"),
        )
    )


# ---------------------------------------------------------------------------
# events_hourly_profile — hour-of-day seasonality
# ---------------------------------------------------------------------------


@query(
    "events_hourly_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, HOUR(ts) AS hour_of_day,
             COUNT(*) AS n_events, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(n_events) AS n_total FROM h GROUP BY 1
    )
    SELECT h.event_type, hour_of_day, n_events,
           ROUND(sv, 2) AS sum_value,
           ROUND(CAST(n_events AS DOUBLE) / n_total, 4) AS hour_share
    FROM h JOIN t ON h.event_type = t.event_type
    """,
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: activity count,
    value volume, and each hour's share of its type's total — the
    diurnal-shape audit a streaming capacity plan starts from. HOUR()
    is portable under the pinned UTC session zone (§7.5.1; raw
    dayofweek is not, §7.5.7, so the profile keys on hours).

    Scale: one fact aggregate to a ≤ 24×|event_type| grid, then the
    share join is grid×type — both broadcast-sized forever. The share
    divides two exact integers, so ROUND(·,4) is engine-stable.
    """
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sv"))
    t = h.groupBy("event_type").agg(F.sum("n_events").alias("n_total"))
    return h.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        pround(F.col("sv"), 2).alias("sum_value"),
        pround(F.col("n_events").cast("double") / F.col("n_total"), 4).alias(
            "hour_share"
        ),
    )


# ---------------------------------------------------------------------------
# events_cooccurrence — event-type co-occurrence + lift
# ---------------------------------------------------------------------------


@query(
    "events_cooccurrence",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day, event_type
      FROM events
    ), tot AS (
      SELECT COUNT(*) AS n_ud
      FROM (SELECT DISTINCT user_id, DATE_TRUNC('day', ts) FROM events)
    ), singles AS (
      SELECT event_type, COUNT(*) AS n_t FROM ud GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM ud a
      JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
                AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) * n_ud / (sa.n_t * sb.n_t), 4)
             AS lift
    FROM pairs
    JOIN singles sa ON type_a = sa.event_type
    JOIN singles sb ON type_b = sb.event_type
    CROSS JOIN tot
    """,
)
def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over user-days: for each unordered
    event-type pair, how many user-days saw both, and the lift
    P(a∧b)/(P(a)·P(b)) — lift > 1 marks behaviorally coupled events
    (the association-rule screen behind "users who X also Y").

    The pair join is keyed on (user_id, day) whose per-key group is
    bounded by the EVENT-TYPE ALPHABET (≤ 5 distinct types per
    user-day after the DISTINCT), so the self-join fan-out is ≤ C(5,2)
    per user-day at any corpus size — bounded like the bin explode of
    join_interval_overlap, never quadratic in events. Lift arithmetic
    is integers-then-one-division, stable under §7.5.2 rounding.
    """
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day"), "event_type"
    ).distinct()
    tot = ud.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_ud")
    )
    singles = ud.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = ud.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = ud.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("na")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            pround(
                F.col("n_ab").cast("double")
                * F.col("n_ud")
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
    )


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_DEADLINE = "INTERVAL 1 HOUR"
PATH_TOPK = 20


GAP_PROBES = (0.5, 0.95)


# ---------------------------------------------------------------------------
# events_window_funnel — staged conversion funnel with a deadline
# ---------------------------------------------------------------------------


@query(
    "events_window_funnel",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{FUNNEL_STEPS[1]}'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + {FUNNEL_DEADLINE}
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{FUNNEL_STEPS[2]}'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + {FUNNEL_DEADLINE}
      GROUP BY e.user_id
    ), staged AS (
      SELECT s1.user_id,
             CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  ELSE 1 END AS max_stage,
             CAST(EPOCH_US(COALESCE(t3, t2, t1)) - EPOCH_US(t1) AS BIGINT)
               AS us_to_last
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT max_stage,
           COUNT(*) AS n_users,
           ROUND(CAST(SUM(us_to_last) AS DOUBLE)
                 / COUNT(us_to_last) / 1000000.0, 2)
             AS avg_secs_to_last
    FROM staged GROUP BY max_stage
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged conversion funnel (ClickHouse ``windowFunnel`` analog):
    view → click → purchase where each transition must land within one
    hour of the previous stage's (earliest-greedy) timestamp. Output:
    user count and mean seconds-to-last-stage per max-stage-reached.

    Each stage is one filtered aggregate joined back on user_id —
    three hash aggregates + two joins, all keyed on user_id so AQE
    reuses one partitioning; no window over the raw event stream and
    no per-user state bigger than three timestamps. At 100 TB the
    stage frames are |users|-sized, far smaller than the fact, and
    the greedy earliest-transition semantics are exactly what the
    sequential MIN chain computes — no sequence explosion.
    """
    # One explicit user_id repartition feeds all three stage aggregates
    # and both joins: the scan is shuffled once and AQE's exchange reuse
    # collapses the downstream user_id exchanges onto it — measured 2×
    # at sf0.1 vs letting each stage re-scan + re-shuffle the fact.
    e = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .repartition("user_id")
    )
    staged = funnel_staged(e)
    return staged.groupBy("max_stage").agg(
        F.count("*").alias("n_users"),
        # exact micros mean (r10 quantization audit): us_to_last is an
        # exact BIGINT, so SUM/COUNT defers the one IEEE division to
        # the end instead of averaging per-row double quotients.
        pround(
            F.sum("us_to_last").cast("double")
            / F.count("us_to_last") / 1000000.0,
            2,
        ).alias("avg_secs_to_last"),
    )


def funnel_staged(e: DataFrame) -> DataFrame:
    """Greedy staged-funnel core over an events frame (user_id,
    event_type, ts) → one row per first-step user: (user_id, max_stage,
    us_to_last). Factored out so the hypothesis suite can drive it with
    adversarial synthetic streams (tests/test_seeds7_properties.py)."""
    deadline = F.expr(FUNNEL_DEADLINE)
    s1 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("max_stage"),
            (
                F.unix_micros(F.coalesce("t3", "t2", "t1"))
                - F.unix_micros("t1")
            ).alias("us_to_last"),
        )
    )


# ---------------------------------------------------------------------------
# events_path_topk — most common 3-step event paths
# ---------------------------------------------------------------------------


@query(
    "events_path_topk",
    oracle=f"""
    WITH s AS (
      SELECT event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n_paths
    FROM s WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY n_paths DESC, path LIMIT {PATH_TOPK}
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOPK} 3-step event paths across all user journeys —
    the sequence generalization of events_markov_transitions (bigram →
    trigram): slide a 3-wide lead window along each user's (ts,
    event_id)-ordered stream, count path strings, keep the global
    top-k by (count desc, path) — a UNIQUE total order, so LIMIT is
    well-defined across engines (SURVEY.md §7.5.7).

    The window partitions on user_id (per-user streams are
    human-bounded); the path count is one map-combined hash aggregate
    over at most |alphabet|³ = 125 distinct keys, and the top-k plans
    as TakeOrderedAndProject — at 100 TB nothing here is bigger than
    the alphabet cube.
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    paths = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        paths.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# ts_asof_nearest — bidirectional nearest-match as-of join
# ---------------------------------------------------------------------------


@query(
    "ts_asof_nearest",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_type, event_id FROM events
      WHERE event_type IN ('error', 'view')
    ), x AS (
      SELECT user_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pv,
             FIRST_VALUE(CASE WHEN event_type = 'view' THEN ts END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nv
      FROM ev
    ), gaps AS (
      SELECT user_id,
             LEAST(
               COALESCE(EPOCH_US(ts) - EPOCH_US(pv),
                        EPOCH_US(nv) - EPOCH_US(ts)),
               COALESCE(EPOCH_US(nv) - EPOCH_US(ts),
                        EPOCH_US(ts) - EPOCH_US(pv))
             ) AS gap_us
      FROM x
      WHERE event_type = 'error' AND (pv IS NOT NULL OR nv IS NOT NULL)
    )
    SELECT user_id, COUNT(*) AS n_errors,
           ROUND(CAST(SUM(gap_us) AS DOUBLE)
                 / COUNT(gap_us) / 1000000.0, 4) AS avg_gap_s,
           ROUND(MIN(gap_us / 1000000.0), 4) AS min_gap_s
    FROM gaps GROUP BY user_id
    """,
)
def ts_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of match in BOTH directions: for every
    'error' event, the temporally closest 'view' by the same user —
    backward OR forward — via one interleaved per-user sorted pass
    (last non-null view before / first non-null view after each row),
    then per-user gap stats. Complements join_asof
    (engine/relational.py:487), which is the classic backward-only
    form.

    One window partitioning (user_id) serves both directions — a
    single sort, no self-join: the standard scale rewrite of
    "nearest event" that avoids the |errors|×|views| range join
    entirely. Gaps are exact integer microseconds (unix_micros /
    EPOCH_US) so LEAST/tie behavior is bit-identical across engines.
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("error", "view"))
        .select("user_id", "ts", "event_type", "event_id")
    )
    gaps = nearest_gaps(ev)
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_errors"),
        # exact micros mean (r10 quantization audit): gap_us is exact
        # BIGINT, so SUM/COUNT defers the one IEEE division to the end.
        pround(
            F.sum("gap_us").cast("double")
            / F.count("gap_us") / 1000000.0,
            4,
        ).alias("avg_gap_s"),
        pround(F.min(F.col("gap_us") / 1000000.0), 4).alias("min_gap_s"),
    )


def nearest_gaps(ev: DataFrame) -> DataFrame:
    """Bidirectional nearest-view gap core over an interleaved
    error/view frame (user_id, ts, event_type, event_id) → one row per
    matchable error: (user_id, gap_us). Factored out so the hypothesis
    suite can drive it with adversarial synthetic streams
    (tests/test_seeds7_properties.py)."""
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    order = [F.col("ts"), F.col("event_id")]
    w_back = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, W.unboundedFollowing)
    )
    x = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.last(view_ts, ignorenulls=True).over(w_back).alias("pv"),
        F.first(view_ts, ignorenulls=True).over(w_fwd).alias("nv"),
    )
    gp = F.unix_micros("ts") - F.unix_micros("pv")
    gn = F.unix_micros("nv") - F.unix_micros("ts")
    return x.filter(
        (F.col("event_type") == "error")
        & (F.col("pv").isNotNull() | F.col("nv").isNotNull())
    ).select(
        "user_id",
        F.least(F.coalesce(gp, gn), F.coalesce(gn, gp)).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# events_gap_percentiles — inter-event gap distribution
# ---------------------------------------------------------------------------


@query(
    "events_gap_percentiles",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY event_type, DATE_TRUNC('day', ts)
                   ORDER BY ts, event_id)
    )
    SELECT event_type,
           COUNT(*) AS n_gaps,
           ROUND(QUANTILE_CONT(gap_us / 1000000.0, {GAP_PROBES[0]}), 4)
             AS p50_gap_s,
           ROUND(QUANTILE_CONT(gap_us / 1000000.0, {GAP_PROBES[1]}), 4)
             AS p95_gap_s,
           ROUND(MAX(gap_us / 1000000.0), 4) AS max_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: consecutive-event
    gaps WITHIN each (type, day) — p50/p95/max seconds. The arrival-
    rate health check behind queue sizing and anomaly thresholds.

    The lag window partitions on (event_type, day), so partitions are
    day-volume-bounded (never a global per-type sort — the scale
    mistake this op deliberately avoids); day-boundary gaps are
    discarded by construction (first row per partition lags NULL).
    Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``QUANTILE_CONT``, the agg_percentile-proven mapping) over exact
    integer-microsecond gaps; ``approx_percentile`` is the declared
    100 TB path (agg_percentile_drift audits that swap).
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type", F.date_trunc("day", "ts")).orderBy(
        "ts", "event_id"
    )
    g = e.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    gap_s = F.col("gap_us") / 1000000.0
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        pround(F.percentile(gap_s, GAP_PROBES[0]), 4).alias("p50_gap_s"),
        pround(F.percentile(gap_s, GAP_PROBES[1]), 4).alias("p95_gap_s"),
        pround(F.max(gap_s), 4).alias("max_gap_s"),
    )


MAD_K = 4.4478  # 3 × 1.4826 (normal-consistency), one literal both engines
EWMA_LAGS = 8  # trailing window; α = 1/2 ⇒ weights 2^-k are EXACT doubles


# ---------------------------------------------------------------------------
# ts_interpolate_linear — gap interpolation over the daily spine
# ---------------------------------------------------------------------------


@query(
    "ts_interpolate_linear",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             {_DAY_SQL} AS day,
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
    forward-fill.

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
    return interpolate_core(user_day_close(e))


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
             {_DAY_SQL} AS day,
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
    return ewma_core(user_day_close(e))


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


EVENT_TYPE_CODES = (
    ("click", 0),
    ("error", 1),
    ("purchase", 2),
    ("signup", 3),
    ("view", 4),
)


# ---------------------------------------------------------------------------
# ts_seasonal_decompose — additive hour-of-day decomposition
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             {_CENTS_SQL} AS c
      FROM events
    ), cell AS (
      SELECT event_type, hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM c GROUP BY 1, 2
    ), g AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS gn,
             CAST(SUM(s1) AS BIGINT) AS gs
      FROM cell GROUP BY 1
    )
    SELECT cell.event_type, cell.hr, cell.n,
           ROUND(CAST(cell.s1 AS DOUBLE) / cell.n, 4) AS hour_mean,
           ROUND(CAST(cell.s1 AS DOUBLE) / cell.n
                 - CAST(g.gs AS DOUBLE) / g.gn, 4) AS hour_effect,
           ROUND(SQRT(CAST(cell.s2 AS DOUBLE) / cell.n
                 - (CAST(cell.s1 AS DOUBLE) / cell.n)
                   * (CAST(cell.s1 AS DOUBLE) / cell.n)), 4) AS within_rms
    FROM cell JOIN g ON g.event_type = cell.event_type
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of event value by hour-of-day:
    per (type, hour) cell — mean, effect vs the type's grand mean, and
    within-cell RMS — the value-weighted companion of the
    count-share events_hourly_profile.

    One map-combined pass collects exact integer (n, Σc, Σc²) per cell
    (alphabet×24 grid — metadata-sized at any corpus size); every
    downstream statistic is the same literal IEEE expression over those
    exact integers on both engines. The grand means come from
    re-aggregating the GRID, never a second fact scan.
    """
    e = load(spark, sf_dir, "events")
    c = cents_col(F.col("value"))
    cell = (
        e.select(
            "event_type", F.hour("ts").cast("int").alias("hr"), c.alias("c")
        )
        .groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )
    g = cell.groupBy("event_type").agg(
        F.sum("n").alias("gn"), F.sum("s1").alias("gs")
    )
    mean = F.col("s1").cast("double") / F.col("n")
    return cell.join(F.broadcast(g), "event_type").select(
        "event_type",
        "hr",
        "n",
        pround(mean, 4).alias("hour_mean"),
        pround(mean - F.col("gs").cast("double") / F.col("gn"), 4).alias(
            "hour_effect"
        ),
        pround(
            F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean), 4
        ).alias("within_rms"),
    )


# ---------------------------------------------------------------------------
# events_user_overlap_jaccard — audience overlap via type bitmasks
# ---------------------------------------------------------------------------


def _type_code_sql() -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN event_type = '{t}' THEN {c}" for t, c in EVENT_TYPE_CODES
        )
        + " END"
    )


def _overlap_oracle() -> str:
    pairs = " UNION ALL ".join(
        f"SELECT '{a}' AS type_a, '{b}' AS type_b, {ca} AS bit_a, {cb} AS bit_b"
        for (a, ca) in EVENT_TYPE_CODES
        for (b, cb) in EVENT_TYPE_CODES
        if a < b
    )
    return f"""
    WITH m AS (
      SELECT user_id,
             BIT_OR(CAST(1 AS BIGINT) << ({_type_code_sql()})) AS mask
      FROM events GROUP BY user_id
    ), g AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users FROM m GROUP BY 1
    ), pairs AS ({pairs})
    SELECT p.type_a, p.type_b,
           CAST(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                          AND (g.mask >> p.bit_b) % 2 = 1
                         THEN g.n_users ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                           OR (g.mask >> p.bit_b) % 2 = 1
                         THEN g.n_users ELSE 0 END) AS BIGINT) AS n_either,
           ROUND(CAST(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                                AND (g.mask >> p.bit_b) % 2 = 1
                               THEN g.n_users ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                                     OR (g.mask >> p.bit_b) % 2 = 1
                                   THEN g.n_users ELSE 0 END), 0), 6)
             AS jaccard
    FROM pairs p CROSS JOIN g
    GROUP BY 1, 2
    """


@query("events_user_overlap_jaccard", oracle=_overlap_oracle())
def events_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of the USER SETS of
    every event-type pair — 'how much does the purchase audience overlap
    the error audience' — computed through per-user type BITMASKS, not
    a self-join of the fact.

    Scale design: one user_id aggregation folds each user's types into
    a 5-bit mask (bit_or — commutative integer state); the mask
    HISTOGRAM (≤ 2⁵ rows at any corpus size) is all the pair grid ever
    touches, so the 10-pair overlap matrix costs one fact shuffle plus
    metadata arithmetic. The self-join formulation the oracle avoids
    too — both engines run the same mask algebra.
    """
    e = load(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.bit_or(
            F.expr(f"shiftleft(cast(1 as bigint), {_type_code_sql()})")
        ).alias("mask")
    )
    g = m.groupBy("mask").agg(F.count("*").alias("n_users"))
    pairs = spark.createDataFrame(
        [
            (a, b, ca, cb)
            for (a, ca) in EVENT_TYPE_CODES
            for (b, cb) in EVENT_TYPE_CODES
            if a < b
        ],
        "type_a string, type_b string, bit_a int, bit_b int",
    )
    has_a = F.expr("(mask & shiftleft(cast(1 as bigint), bit_a)) != 0")
    has_b = F.expr("(mask & shiftleft(cast(1 as bigint), bit_b)) != 0")
    n_both = F.sum(F.when(has_a & has_b, F.col("n_users")).otherwise(0))
    n_either = F.sum(F.when(has_a | has_b, F.col("n_users")).otherwise(0))
    return (
        pairs.crossJoin(F.broadcast(g))
        .groupBy("type_a", "type_b")
        .agg(
            n_both.cast("bigint").alias("n_both"),
            n_either.cast("bigint").alias("n_either"),
            # try_divide: a pair neither of whose types occurs at all
            # (tiny/degenerate corpora) has |A∪B| = 0 — NULL Jaccard,
            # not an ANSI abort (one-row exact sweep).
            pround(
                F.try_divide(n_both.cast("double"), n_either),
                6,
            ).alias("jaccard"),
        )
    )


ATTR_WINDOW_S = 3600


# ---------------------------------------------------------------------------
# events_attribution_linear — linear touch attribution via RANGE frames
# ---------------------------------------------------------------------------


@query(
    "events_attribution_linear",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, {_CENTS_SQL} AS c,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, ts, event_id
      FROM events
    ), p AS (
      SELECT user_id, c, event_id,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {ATTR_WINDOW_S} PRECEDING AND CURRENT ROW)
               AS n_touches_raw,
             event_type
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN n_touches_raw > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS attributed,
           ROUND(SUM(CASE WHEN n_touches_raw > 0
                          THEN CAST(c AS DOUBLE) / n_touches_raw
                          ELSE 0 END), 4) AS credit_per_touch_sum
    FROM p WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) marketing attribution: each purchase's value
    is split across the views in the preceding hour — per user, how many
    purchases had any touch, and the summed per-touch credit.

    The preceding-hour touch count is a CONDITIONAL sum over a RANGE
    frame on epoch seconds (the win_range_interval machinery pointed at
    attribution): one user_id exchange, one window pass, no
    purchase×view self-join — the self-join formulation explodes on
    power users, the frame is O(events in window). Credit divides exact
    integer cents by an integer touch count (each term one IEEE divide);
    the per-user sum is over ≤ purchases-per-user terms and rounds at
    4 dp (§7.5 convention).
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        cents_col(F.col("value")).alias("c"),
        F.unix_timestamp("ts").cast("bigint").alias("sec"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-ATTR_WINDOW_S, 0)
    )
    p = e.select(
        "user_id",
        "event_type",
        "c",
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(w)
        .alias("n_touches_raw"),
    ).filter(F.col("event_type") == "purchase")
    return p.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.when(F.col("n_touches_raw") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("attributed"),
        pround(
            F.sum(
                F.when(
                    F.col("n_touches_raw") > 0,
                    F.col("c").cast("double") / F.col("n_touches_raw"),
                ).otherwise(0.0)
            ),
            4,
        ).alias("credit_per_touch_sum"),
    )


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
    d = type_day_cents(load(spark, sf_dir, "events"))
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
    return cusum_core(type_day_cents(load(spark, sf_dir, "events")))


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
# events_survival_curve — activity-longevity survival function
# ---------------------------------------------------------------------------


@query(
    "events_survival_curve",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(DISTINCT {_DAY_SQL}) AS BIGINT) AS active_days
      FROM events GROUP BY 1
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
    k AS (SELECT UNNEST(GENERATE_SERIES(1, CAST((SELECT MAX(active_days)
                                                 FROM u) AS BIGINT))) AS k)
    SELECT k.k AS min_active_days,
           CAST(SUM(CASE WHEN u.active_days >= k.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving,
           ROUND(CAST(SUM(CASE WHEN u.active_days >= k.k THEN 1 ELSE 0 END)
                      AS DOUBLE) / MAX(t.n_users), 6) AS survival
    FROM k CROSS JOIN u CROSS JOIN t
    GROUP BY 1
    """,
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement survival function S(k) = P(user active ≥ k distinct
    days) — the longevity curve behind churn modeling and LTV, the
    per-user-lifetime companion of events_retention's cohort matrix.

    Scale design: the fact reduces to ONE user-grain row (distinct
    active days) — everything after is arithmetic on that user table:
    the survival counts come from a k-grid × active-days-HISTOGRAM
    product (≤ max_days × distinct-day-counts cells, metadata-sized),
    never a k × users blow-up; the oracle keeps the naive k×users
    cross join, proving the rewrite. Integer counts, one final ratio.
    """
    e = load(spark, sf_dir, "events")
    u = e.select(
        "user_id",
        day_col().alias("day"),
    ).groupBy("user_id").agg(
        F.count_distinct("day").cast("bigint").alias("active_days")
    )
    # histogram of active-day counts (≤ max_days rows) — the survival
    # tail sum runs over THIS, not over users.
    h = u.groupBy("active_days").agg(F.count("*").alias("n_users_at"))
    mx = h.agg(F.max("active_days").alias("mx"), F.sum("n_users_at").alias("n_users"))
    k = mx.select(
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("mx"))).alias("k"),
        "n_users",
    )
    return (
        k.join(F.broadcast(h), F.col("active_days") >= F.col("k"))
        .groupBy("k", "n_users")
        .agg(F.sum("n_users_at").cast("bigint").alias("n_surviving"))
        .select(
            F.col("k").alias("min_active_days"),
            "n_surviving",
            pround(
                F.col("n_surviving").cast("double") / F.col("n_users"), 6
            ).alias("survival"),
        )
    )


# ---------------------------------------------------------------------------
# ts_peak_days — local-maximum detection on the daily series
# ---------------------------------------------------------------------------


@query(
    "ts_peak_days",
    oracle=f"""
    WITH d AS (
      SELECT event_type, {_DAY_SQL} AS day,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), l AS (
      SELECT event_type, day, v,
             LAG(v) OVER w AS pv, LEAD(v) OVER w AS nv
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN v > COALESCE(pv, v - 1)
                          AND v > COALESCE(nv, v - 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
           CAST(MIN(CASE WHEN v > COALESCE(pv, v - 1)
                          AND v > COALESCE(nv, v - 1)
                         THEN day END) AS BIGINT) AS first_peak_day
    FROM l GROUP BY 1
    """,
)
def ts_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum (peak) detection on each type's daily value
    series: days strictly above both neighbors, counted per type with
    the first peak day — the spike census feeding alerting thresholds
    (ts_cusum_change finds the one LEVEL shift; this finds every local
    spike).

    Exact integer comparisons only (v, lag, lead are bigint cents);
    series edges count as peaks when strictly above their one existing
    neighbor (COALESCE(neighbor, v-1) makes the missing side always
    smaller — the same trick on both engines). One day-grain rollup,
    one window pass, one reduce.
    """
    d = type_day_cents(load(spark, sf_dir, "events"))
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type",
        "day",
        "v",
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"),
    )
    is_peak = (F.col("v") > F.coalesce(F.col("pv"), F.col("v") - 1)) & (
        F.col("v") > F.coalesce(F.col("nv"), F.col("v") - 1)
    )
    return l.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(is_peak.cast("int")).cast("bigint").alias("n_peaks"),
        F.min(F.when(is_peak, F.col("day"))).cast("bigint").alias(
            "first_peak_day"
        ),
    )


WAU_DAYS = 7


# ---------------------------------------------------------------------------
# events_new_vs_returning — daily active split by first-seen day
# ---------------------------------------------------------------------------


@query(
    "events_new_vs_returning",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, {_DAY_SQL} AS day FROM events
      WHERE user_id IS NOT NULL
    ), first_seen AS (
      SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY 1
    )
    SELECT ud.day,
           CAST(SUM(CASE WHEN ud.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN ud.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning
    FROM ud JOIN first_seen f USING (user_id)
    GROUP BY 1
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever-seen today) vs
    RETURNING — the top-of-dashboard growth decomposition
    (events_retention says how cohorts persist; this says what today's
    traffic is made of).

    One (user, day) dedup, then first-seen via a min() WINDOW over the
    user partition — no join back (the oracle keeps the textbook
    first-seen join; the window form rides the SAME user_id clustering
    the dedup already produced). Pure integer comparisons.
    """
    # Anonymous (NULL user_id) rows are unattributable to a person, so
    # per-user analytics drop them at ingest on BOTH engines — without
    # the filter, Spark's window/grouping treats all NULLs as ONE user
    # while SQL equality joins match none of them (caught by the
    # NULL-join-key exact sweep, tests/test_null_inputs.py).
    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ud = user_days(e)
    d0 = F.min("day").over(W.partitionBy("user_id"))
    flagged = ud.select(
        "day", (F.col("day") == d0).cast("int").alias("is_new")
    )
    return flagged.groupBy("day").agg(
        F.sum("is_new").cast("bigint").alias("n_new"),
        F.sum(1 - F.col("is_new")).cast("bigint").alias("n_returning"),
    )


# ---------------------------------------------------------------------------
# events_dau_wau — rolling distinct actives via bounded fan-out
# ---------------------------------------------------------------------------


@query(
    "events_dau_wau",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, {_DAY_SQL} AS day FROM events
      WHERE user_id IS NOT NULL
    ), span AS (
      SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM ud
    ), wau AS (
      SELECT w.wday, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
      FROM ud
      JOIN (SELECT UNNEST(GENERATE_SERIES((SELECT dmin FROM span),
                                          (SELECT dmax FROM span))) AS wday) w
        ON ud.day BETWEEN w.wday - {WAU_DAYS - 1} AND w.wday
      GROUP BY 1
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    )
    SELECT w.wday AS day, COALESCE(d.dau, 0) AS dau, w.wau
    FROM wau w LEFT JOIN dau d ON d.day = w.wday
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day WAU per calendar day — the engagement
    ratio pair (WAU/DAU = stickiness) every product dashboard leads
    with.

    Scale design: rolling DISTINCT counts admit no window rewrite, so
    the Spark side uses the bounded CONTRIBUTION fan-out — each
    deduped (user, day) row contributes to exactly 7 window days
    (explode day..day+6), then one distinct-count per window day;
    fan-out is a CONSTANT ×7 of the user-day grain (already tiny vs
    the fact), never a day×users cross product. The oracle keeps the
    textbook range theta-join formulation, proving the rewrite. Window
    days past the data edge are clipped to the observed span on both
    engines. Contract note (hypothesis-surfaced): a day appears iff
    its trailing window saw ≥ 1 active user — a gap longer than
    WAU_DAYS emits no row for its fully-dead days, identically in the
    engine and the oracle (a dashboard wanting explicit zeros left-
    joins the calendar dim, join_calendar_dim).
    """
    # Anonymous (NULL user_id) rows are unattributable to a person, so
    # per-user analytics drop them at ingest on BOTH engines — without
    # the filter, Spark's window/grouping treats all NULLs as ONE user
    # while SQL equality joins match none of them (caught by the
    # NULL-join-key exact sweep, tests/test_null_inputs.py).
    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return dau_wau_core(user_days(e))


def dau_wau_core(ud: DataFrame) -> DataFrame:
    """The bounded contribution-fan-out DAU/WAU over any deduped
    (user_id, day) frame — factored for the hypothesis reference check
    (tests/test_seeds1720_refchecks.py)."""
    span = ud.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    contrib = (
        ud.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            "day",
            F.explode(
                F.sequence(
                    F.greatest(F.col("day"), F.col("dmin")),
                    F.least(F.col("day") + WAU_DAYS - 1, F.col("dmax")),
                )
            ).alias("wday"),
        )
        .select("user_id", "wday")
        .distinct()
    )
    wau = contrib.groupBy("wday").agg(
        F.count("*").cast("bigint").alias("wau")
    )
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    return (
        wau.join(dau, wau.wday == dau.day, "left")
        .select(
            F.col("wday").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            "wau",
        )
    )


WILSON_Z = 1.96
WILSON_THRESHOLD = 0.15


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
    z-score lesson applied at design time). One day-grain
    aggregate, map-only math after it.
    """
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            day_col().alias("day"),
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
    d = type_day_cents(load(spark, sf_dir, "events"))
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
    ud = user_days(load(spark, sf_dir, "events")).repartition("user_id")
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
    return rolling_z_core(type_day_cents(load(spark, sf_dir, "events")))


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


Z_THRESHOLD = 2.0


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH stats AS (
      SELECT user_id,
             AVG(value) AS mu,
             STDDEV_SAMP(value) AS sigma,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4) AS zscore
    FROM events e JOIN stats s ON e.user_id = s.user_id
    WHERE s.n_events >= 2
      AND ABS(ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4))
            > {Z_THRESHOLD}
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly detection: events whose value deviates
    more than {Z_THRESHOLD}σ from that user's own mean — the outlier
    gate of a metrics pipeline.

    One user_id aggregate (mean + sample stddev, Welford-style partial
    merge under the hood) joined back to the stream on the same key —
    the partitioning is reused, so this is one shuffle + one co-hashed
    join at any scale. σ=0 users (constant values) are excluded via
    NULLIF rather than dividing by zero. The |z| > {Z_THRESHOLD} gate is
    applied to the ROUNDED z (4 dp, identically on both engines): raw
    AVG/STDDEV doubles differ across summation orders, so an unrounded
    threshold can flip membership of a value within an ulp of 2.0 —
    the same determinism rule q15 uses (SURVEY.md §7.5).
    """
    e = load(spark, sf_dir, "events")
    stats = e.groupBy(F.col("user_id").alias("uid")).agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count("*").alias("n_events"),
    )
    z = (F.col("value") - F.col("mu")) / F.nullif(
        F.col("sigma"), F.lit(0.0)
    )
    return (
        e.join(stats, e["user_id"] == stats["uid"])
        .filter(
            (F.col("n_events") >= 2)
            & (F.abs(pround(z, 4)) > Z_THRESHOLD)
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            pround(F.col("value"), 4).alias("value"),
            pround(z, 4).alias("zscore"),
        )
    )


@query(
    "events_funnel",
    oracle="""
    WITH c AS (
      SELECT user_id, MIN(ts) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), p AS (
      SELECT c.user_id, MIN(e.ts) AS first_purchase
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts >= c.first_click
      GROUP BY c.user_id
    )
    SELECT c.user_id, c.first_click, p.first_purchase,
           CAST(CASE WHEN p.first_purchase IS NULL THEN 0 ELSE 1 END AS INT)
             AS converted,
           CAST(CASE WHEN p.first_purchase IS NULL THEN NULL
                     ELSE FLOOR(epoch(p.first_purchase)
                                - epoch(c.first_click))
                END AS BIGINT) AS conv_secs
    FROM c LEFT JOIN p ON c.user_id = p.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, first click → first purchase at or
    after it, with conversion flag and seconds-to-convert.

    Two aggregates + a left join — the canonical event-funnel shape. The
    purchase side is *pre-filtered by event type before the join* so the
    join input is a fraction of the event stream; both aggregates
    shuffle on user_id, so AQE plans the second join shuffle-free when
    partitioning is reusable. Seconds are integral (event timestamps are
    second-granularity), so the epoch difference hashes exactly.
    """
    e = load(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        clicks.join(purchases, "user_id", "left")
        .select(
            "user_id",
            "first_click",
            "first_purchase",
            F.when(F.col("first_purchase").isNull(), 0)
            .otherwise(1)
            .cast("int")
            .alias("converted"),
            # fractional-epoch difference (µs-precision timestamps) then
            # floor — unix_timestamp truncates each side *before* the
            # subtraction and disagrees with the oracle by ±1 s
            F.floor(
                F.col("first_purchase").cast("double")
                - F.col("first_click").cast("double")
            )
            .cast("bigint")
            .alias("conv_secs"),
        )
    )


@query(
    "events_retention",
    oracle="""
    WITH w AS (
      SELECT user_id,
             CAST(FLOOR(FLOOR(epoch(ts) / 86400) / 7) AS BIGINT) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN cohort c ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in each subsequent week they return — the cohort matrix
    behind every retention curve.

    Week ids are pure integer epoch arithmetic (floor(epoch/86400/7)),
    identical on both engines — no date_trunc semantics to disagree on.
    Both aggregates and the join hash on user_id, so the whole query
    reuses ONE partitioning; the final distinct-count shuffles on the
    (small) cohort × offset grid.
    """
    e = load(spark, sf_dir, "events")
    w = e.select(
        "user_id",
        F.floor(F.floor(F.col("ts").cast("double") / 86400) / 7)
        .cast("bigint")
        .alias("week"),
    )
    cohort = w.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        w.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week"))
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "ts_gap_fill",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             {_DAY_SQL} AS day,
             (MAX({{'ts': ts, 'id': event_id, 'v': value}})).v
               AS close_value,
             COUNT(*) AS n_events
      FROM events
      WHERE ts >= TIMESTAMP '1990-01-01 00:00:00'
        AND ts <  TIMESTAMP '2100-01-01 00:00:00'
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY user_id
    ), spine AS (
      SELECT s.user_id, UNNEST(GENERATE_SERIES(s.d0, s.d1)) AS day
      FROM span s
    )
    SELECT sp.user_id, sp.day,
           CAST(CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS is_observed,
           CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
           ROUND(LAST_VALUE(d.close_value IGNORE NULLS) OVER (
             PARTITION BY sp.user_id ORDER BY sp.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS filled_value
    FROM spine sp LEFT JOIN d
      ON sp.user_id = d.user_id AND sp.day = d.day
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per user, a dense daily spine between
    first and last activity, left-joined to the observed per-day close
    value (max_by ts) and forward-filled through the gaps — the
    resample + LOCF shape every feature pipeline needs before training
    on event streams.

    The spine derives from a per-user min/max aggregate and
    ``sequence()`` explode — spine size is span-bounded, never a
    cartesian with a global calendar. All three steps (day aggregate,
    spine join, fill window) hash/partition on user_id, so one shuffle
    partitioning serves the whole plan; the fill is
    ``last(ignorenulls)`` over a user-partitioned window.
    """
    # Epoch-domain guard: the spine spans [min(day), max(day)] per
    # user, so ONE poisoned sentinel timestamp (epoch 0, year 9999)
    # inflates it to ~3M days/user — a fan-out bomb at any scale. The
    # 1990..2100 ingest window bounds the spine under arbitrary input
    # (sentinel-timestamps exact sweep); rows outside it are clock
    # garbage by definition, quarantined on both engines.
    e = load(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("1990-01-01 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01 00:00:00").cast("timestamp"))
    )
    d = (
        e.groupBy(
            "user_id",
            F.floor(F.col("ts").cast("double") / 86400)
            .cast("bigint")
            .alias("day"),
        )
        # Deterministic close under tied timestamps: struct max over
        # the unique (ts, event_id) prefix (see ts_ewma_smooth).
        .agg(
            F.max(F.struct("ts", "event_id", "value"))
            .getField("value")
            .alias("close_value"),
            F.count("*").alias("n_events"),
        )
    )
    spine = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    joined = spine.join(d, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.col("close_value").isNotNull().cast("int").alias("is_observed"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        pround(F.last("close_value", ignorenulls=True).over(w), 4).alias(
            "filled_value"
        ),
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type,
           COUNT(*) AS n_transitions,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 4)
             AS p_transition
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (from → to) event-type pair, the transition count and the
    row-normalized probability — the session-flow model behind "what do
    users do after X" product questions.

    One lead() window per user (unique (ts, event_id) order), then a
    grouped count; the row normalization is a window over the
    aggregated 5×5 transition grid, bounded at any scale. The stream
    shuffles once on user_id; the grid aggregate is map-side combined.
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    total = F.sum("n_transitions").over(W.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        pround(F.col("n_transitions").cast("double") / total, 4).alias(
            "p_transition"
        ),
    )
