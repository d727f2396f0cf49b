"""Window functions (SURVEY.md §2.E).

Every window orders by a unique key (or adds a key tiebreaker) —
nondeterministic peer order is the #1 oracle-mismatch risk
(SURVEY.md §7.5.4). Window state is per-partition on the executors;
at 100 TB each `partitionBy` key group must fit an executor's spill
budget, which holds for per-customer / per-user partitions.
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
    exact_sum,
    pround,
)
from engine.registry import query
from engine.session import load
from engine.timeseries import user_day_close


@query(
    "win_ranking",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per segment
    (SURVEY.md §2.E win_ranking; unique order via c_custkey tiebreak)."""
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           value - LAG(value) OVER w AS delta_value,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/lead deltas (SURVEY.md §2.E win_lag_lead).

    ``value - lag(value)`` is a single IEEE subtraction of identical
    inputs → bit-exact across engines, no rounding needed.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running_sum",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM({cents_sql("o_totalprice")}) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100, 2) AS running_rev
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer (SURVEY.md §2.E win_running_sum).

    The prefix folds exact integer cents (r10 quantization audit):
    running-sum implementations (sequential vs segment-tree) group
    additions differently across engines, and a double prefix sum over
    an unbounded frame accumulates drift with partition length — exact
    integers make every association identical. DECIMAL(38,0) for the
    same 100 TB hot-customer headroom as the grouped sums.
    """
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = (
        F.sum(cents_col(F.col("o_totalprice")).cast("decimal(38,0)"))
        .over(w)
        .cast("double")
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        pround(running / 100, 2).alias("running_rev"),
    )


@query(
    "win_moving_avg",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(AVG({cents_sql("value")}) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 4) AS mov_avg
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average of event value per user
    (SURVEY.md §2.E win_moving_avg).

    Averages exact integer cents (r10 quantization audit): the frame is
    bounded (≤3 rows, so even a double fold could not drift with data
    volume), but a 2-dp mean lands exactly on a rounding boundary for
    boundary rationals (e.g. mean(.01,.02) = .015) where sequential vs
    segment-tree association could disagree — integer cents make every
    association identical; AVG of ≤3 BIGINTs is exact in both engines'
    double sum buffers.
    """
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        pround(F.avg(cents_col(F.col("value"))).over(w) / 100.0, 4).alias(
            "mov_avg"
        ),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the league-table idiom
    (SURVEY.md §2.E win_topk_per_group; [REF] README.md:2's analytics
    domain is exactly this ranking shape).

    At scale this beats global sort: one shuffle on the partition key,
    per-group heap-free rank, early filter.
    """
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_orderdate) OVER w AS first_date,
           LAST_VALUE(o_orderdate) OVER w AS last_date
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last order date per customer over the full frame
    (SURVEY.md §2.E win_first_last — explicit frame, else LAST_VALUE
    sees only the default frame ending at CURRENT ROW)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderdate").over(w).alias("first_date"),
        F.last("o_orderdate").over(w).alias("last_date"),
    )


NTILE_BUCKETS = 4


@query(
    "win_ntile_cume",
    oracle=f"""
    SELECT event_id, event_type,
           ROUND(value, 2) AS value,
           CAST(NTILE({NTILE_BUCKETS}) OVER w AS INT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM events
    WHERE event_type IN ('purchase', 'refund')
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile/percent_rank/cume_dist per
    event_type over value (SURVEY.md §2.D family; the rank/lag/frame
    forms are covered, this adds the relative-position trio used for
    quantile bucketing without a sketch).

    One hash shuffle on the partition key; the (value, event_id)
    compound order is UNIQUE, so every relative-position value is a
    ratio of exact integers — deterministic across engines (§7.5: ties
    under a non-unique order would make ntile boundaries an engine
    choice).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "refund")
    )
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        pround(F.col("value"), 2).alias("value"),
        F.ntile(NTILE_BUCKETS).over(w).cast("int").alias("quartile"),
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# ---------------------------------------------------------------------------
# win_pct_change — day-over-day percent change per event type
# ---------------------------------------------------------------------------


@query(
    "win_pct_change",
    oracle="""
    WITH d AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             COUNT(*) AS n_events, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n_events,
           ROUND(sv, 2) AS sum_value,
           ROUND((sv - LAG(sv) OVER w) / NULLIF(LAG(sv) OVER w, 0), 4)
             AS pct_change
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change of per-type daily value volume — the
    time-series derivative surface (lag + ratio) over a calendar-day
    rollup; the first day of each series is NULL by construction
    (nothing to change from), exercising null-propagating arithmetic in
    the window frame.

    Scale: fact → (type × day) rollup first (one shuffle, grid-sized
    result), THEN the lag window over the rollup — windowing the raw
    fact would sort 100 TB; windowing the rollup sorts ~thousands of
    rows per type. (event_type, day) is a unique total order (§7.5.4).
    """
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sv"))
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("sv").over(w)
    return d.select(
        "event_type",
        "day",
        "n_events",
        pround(F.col("sv"), 2).alias("sum_value"),
        # try_divide: a zero-volume previous day is an undefined pct
        # change (NULL), not an ANSI job abort — zero-values exact
        # sweep; oracle NULLIF mirrors it version-proof.
        pround(F.try_divide(F.col("sv") - prev, prev), 4).alias("pct_change"),
    )


# ---------------------------------------------------------------------------
# win_weighted_ma — linearly-weighted trailing moving average
# ---------------------------------------------------------------------------


@query(
    "win_weighted_ma",
    oracle="""
    WITH d AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, ROUND(sv, 2) AS sum_value,
           ROUND((3 * sv
                  + COALESCE(2 * LAG(sv, 1) OVER w, 0)
                  + COALESCE(LAG(sv, 2) OVER w, 0))
                 / (3 + CASE WHEN LAG(sv, 1) OVER w IS NULL THEN 0
                             ELSE 2 END
                      + CASE WHEN LAG(sv, 2) OVER w IS NULL THEN 0
                             ELSE 1 END), 4) AS wma3
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def win_weighted_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted trailing 3-day moving average (weights 3/2/1,
    most-recent-heaviest) of per-type daily volume — the recency-biased
    smoother between the flat frame average (win_moving_avg) and a true
    EWMA (whose infinite recursion no window frame expresses); series
    edges renormalize over the weights actually present instead of
    zero-padding the missing days.

    Scale: same day-grain-rollup-first discipline as win_pct_change —
    the lag window runs over the (type × day) grid, never the raw
    fact; explicit LAG columns (not a weighted frame aggregate, which
    Spark lacks) keep it one Window node, one sort of the grid.
    """
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum("value").alias("sv"))
    w = W.partitionBy("event_type").orderBy("day")
    l1, l2 = F.lag("sv", 1).over(w), F.lag("sv", 2).over(w)
    num = (
        3 * F.col("sv")
        + F.coalesce(2 * l1, F.lit(0.0))
        + F.coalesce(l2, F.lit(0.0))
    )
    den = (
        F.lit(3)
        + F.when(l1.isNull(), 0).otherwise(2)
        + F.when(l2.isNull(), 0).otherwise(1)
    )
    return d.select(
        "event_type",
        "day",
        pround(F.col("sv"), 2).alias("sum_value"),
        pround(num / den, 4).alias("wma3"),
    )


# ---------------------------------------------------------------------------
# win_ratio_to_report — share-of-parent via windowed totals
# ---------------------------------------------------------------------------


@query(
    "win_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT r_name, n_name,
             ROUND(CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                            * (100 - CAST(FLOOR(l_discount * 100 + 0.5)
                                          AS BIGINT))) AS DOUBLE)
                   / 10000, 2) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    ), revc AS (
      SELECT r_name, n_name, revenue,
             CAST(FLOOR(revenue * 100 + 0.5) AS BIGINT) AS revenue_c
      FROM rev
    )
    SELECT r_name, n_name, revenue,
           ROUND(CAST(revenue_c AS DOUBLE)
                 / NULLIF(CAST(SUM(revenue_c) OVER (PARTITION BY r_name)
                               AS DOUBLE), 0), 6) AS region_share,
           CAST(RANK() OVER (PARTITION BY r_name
                             ORDER BY revenue DESC, n_name) AS INTEGER)
             AS region_rank
    FROM revc
    """,
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's supplier
    revenue plus its rank within the region — the classic OLAP
    share-of-parent idiom, done with ONE window partitioning instead
    of a join back to a totals aggregate (compare
    llm_temperature_mixture's broadcast-totals shape: windows win when
    the parent grain is a real grouping of the child grain).

    Dims broadcast into the fact scan; the window partitions on
    r_name over a nations-sized frame (25 rows — metadata-bounded,
    never data-sized). Revenue is rounded BEFORE the share so both
    engines divide identical doubles; rank orders by (revenue desc,
    n_name) — unique, so ranking is deterministic (§7.5.7).
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        # exact 1e-4-unit revenue sum (r10 quantization audit)
        .agg(
            exact_sum(
                cents_col(F.col("l_extendedprice"))
                * (100 - cents_col(F.col("l_discount"))),
                10000,
            ).alias("revenue")
        )
        # integer-cents twin of the rounded revenue: the window total
        # and the share divide exact integers, so the 1e-6-grain share
        # cannot ride on a 25-addend double fold.
        .withColumn("revenue_c", cents_col(F.col("revenue")))
    )
    w = W.partitionBy("r_name")
    wr = W.partitionBy("r_name").orderBy(
        F.col("revenue").desc(), "n_name"
    )
    return rev.select(
        "r_name",
        "n_name",
        "revenue",
        # try_divide: a zero-revenue region is an undefined share, not
        # an ANSI abort (zero-values exact sweep).
        pround(
            F.try_divide(
                F.col("revenue_c").cast("double"),
                F.sum("revenue_c").over(w).cast("double"),
            ),
            6,
        ).alias("region_share"),
        F.rank().over(wr).cast("int").alias("region_rank"),
    )


# ---------------------------------------------------------------------------
# win_pareto_days — concentration curve over daily volume
# ---------------------------------------------------------------------------

PARETO_NUM, PARETO_DEN = 4, 5  # threshold = 4/5 = 80 %


@query(
    "win_pareto_days",
    oracle=f"""
    WITH d AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             CAST(SUM({_CENTS_SQL}) AS BIGINT)
               AS vol_cents
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, day, vol_cents,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             CAST(SUM(vol_cents) OVER (PARTITION BY event_type
                                       ORDER BY vol_cents DESC, day
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(vol_cents) OVER (PARTITION BY event_type) AS BIGINT)
               AS total
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY vol_cents DESC, day)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MIN(CASE WHEN cum * {PARETO_DEN} >= total * {PARETO_NUM}
                         THEN rn END) AS BIGINT) AS days_to_80pct,
           ROUND(MAX(CASE WHEN rn = 1 THEN vol_cents END)
                 * 1.0 / NULLIF(MAX(total), 0), 6) AS top_day_share
    FROM r GROUP BY event_type
    """,
)
def win_pareto_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-concentration (Pareto) curve: per event type, how many of
    the heaviest days carry 80 % of total value — the "how skewed is
    the traffic" number behind capacity planning and sampling quotas.

    All arithmetic until the final share is INTEGER (value is 2-dp by
    fixture construction, so cents = floor(100·v + 0.5) are exact
    longs; the 80 % crossing test is cum·5 ≥ total·4 — no float
    boundary can flip a rank across engines, the same integer-surrogate
    trick as llm_temperature_mixture's boosts). Both windows and the
    final aggregate share one event_type partitioning over day-grain
    rows (≤ days per type — metadata-bounded at any corpus size).
    """
    e = load(spark, sf_dir, "events")
    cents = cents_col(F.col("value"))
    d = (
        e.select("event_type", F.date_trunc("day", "ts").alias("day"), cents.alias("c"))
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("vol_cents"))
    )
    w_ord = W.partitionBy("event_type").orderBy(
        F.col("vol_cents").desc(), "day"
    )
    r = d.select(
        "event_type",
        "vol_cents",
        F.row_number().over(w_ord).cast("bigint").alias("rn"),
        F.sum("vol_cents")
        .over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.sum("vol_cents").over(W.partitionBy("event_type")).alias("total"),
    )
    return r.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.min(
            F.when(
                F.col("cum") * PARETO_DEN >= F.col("total") * PARETO_NUM,
                F.col("rn"),
            )
        ).alias("days_to_80pct"),
        pround(
            # try_divide: an all-zero-volume type has total = 0 — NULL
            # share, not an ANSI abort (zero-values exact sweep).
            F.try_divide(
                F.max(F.when(F.col("rn") == 1, F.col("vol_cents"))) * 1.0,
                F.max("total"),
            ),
            6,
        ).alias("top_day_share"),
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
# win_nth_value — nth_value window surface
# ---------------------------------------------------------------------------


@query(
    "win_nth_value",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             {_DAY_SQL} AS day,
             (MAX({{'ts': ts, 'id': event_id, 'c': {_CENTS_SQL}}})).c
               AS close_c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day, close_c,
           NTH_VALUE(close_c, 2) OVER w AS second_close,
           NTH_VALUE(close_c, 3) OVER w AS third_close
    FROM d
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nth_value`` window surface: each user's 2nd and 3rd daily close
    visible from every row's cumulative frame (NULL until the frame has
    grown past n) — the frame-sensitive ordinal accessor that completes
    the first/last/lag/lead family.

    Frame semantics are the test: nth_value reads the FRAME, not the
    partition, so early rows must be NULL on both engines. One user_id
    exchange shared with the day-grain rollup, single window pass for
    both ordinals.
    """
    d = user_day_close(load(spark, sf_dir, "events").repartition("user_id"))
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return d.select(
        "user_id",
        "day",
        "close_c",
        F.nth_value("close_c", 2).over(w).alias("second_close"),
        F.nth_value("close_c", 3).over(w).alias("third_close"),
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


@query(
    "win_percentiles",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4) AS cume,
           NTILE(10) OVER w AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows: percent_rank, cume_dist, decile
    per market segment over account balance (unique total order via the
    c_custkey tiebreak, SURVEY.md §7.5.4).
    """
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        pround(F.percent_rank().over(w), 4).alias("pct_rank"),
        pround(F.cume_dist().over(w), 4).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


# ---------------------------------------------------------------------------
# Sessionization (batch gap-based; the streaming session window is
# stream_session in engine.streaming).
# ---------------------------------------------------------------------------

SESSION_GAP_SECS = 28_800  # 8 h: ~half the fixture inter-event gaps


@query(
    "win_sessionize",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch(ts) - LAG(epoch(ts)) OVER w > {SESSION_GAP_SECS}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_type, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS BIGINT)
               AS session_idx
      FROM g
    )
    SELECT user_id, session_idx,
           COUNT(*) AS n_events,
           CAST(FLOOR(epoch(MAX(ts)) - epoch(MIN(ts))) AS BIGINT)
             AS session_secs,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM s GROUP BY 1, 2
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is
    idle > SESSION_GAP_SECS (8 h); per-session event count, duration,
    purchases.

    The lag/is-new/running-sum idiom — the canonical batch sessionizer.
    One shuffle on user_id serves both window passes AND the final
    grouped aggregate (all three are user_id-partitioned, so Catalyst
    plans a single Exchange). Ordering ties are impossible: event_id is
    unique within a user. At 100 TB this is the shape you want —
    per-user state never materializes outside its partition.
    """
    return sessionize(load(spark, sf_dir, "events"), SESSION_GAP_SECS)


def sessionize(e: DataFrame, gap_secs: float) -> DataFrame:
    """Sessionize any (user_id, event_id, ts, event_type) DataFrame —
    the win_sessionize logic, factored for property tests over
    hypothesis-generated event streams."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Fractional epoch seconds (µs-precision timestamps): unix_timestamp
    # truncates each side before subtracting and disagrees with the
    # oracle's epoch() by ±1 s — same pitfall as events_funnel.
    secs = F.col("ts").cast("double")
    is_new = (
        F.when(
            F.lag("ts").over(w).isNull()
            | ((secs - F.lag(secs).over(w)) > gap_secs),
            1,
        )
        .otherwise(0)
        .alias("is_new")
    )
    return (
        e.select("user_id", "event_id", "ts", "event_type", is_new)
        .withColumn("session_idx", F.sum("is_new").over(w))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.max(secs) - F.min(secs)).cast("bigint").alias("session_secs"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("long")
            .alias("n_purchases"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: runs of consecutive active days.
# ---------------------------------------------------------------------------


@query(
    "win_gap_islands",
    oracle="""
    WITH dd AS (
      SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events
    ), g AS (
      SELECT user_id, day,
             CASE WHEN LAG(day) OVER w IS NULL
                    OR DATE_DIFF('day', LAG(day) OVER w, day) > 1
                  THEN 1 ELSE 0 END AS is_new
      FROM dd
      WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ), isl AS (
      SELECT user_id, day,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY day)
                  AS BIGINT) AS island_idx
      FROM g
    )
    SELECT user_id, island_idx,
           MIN(day) AS start_day, MAX(day) AS end_day,
           COUNT(*) AS n_days
    FROM isl GROUP BY 1, 2
    """,
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over per-user active days: maximal runs of
    consecutive calendar days with ≥1 event, with run bounds and
    length.

    The dual of sessionization on a discrete axis: distinct
    (user, day) first (collapsing the fact table to at most
    users×days rows), then the same lag → is-new → running-sum idiom.
    The distinct, both windows, and the island aggregate all partition
    on user_id, so the whole operator is one exchange after the
    per-day collapse. Days are midnight-truncated timestamps (not
    DATE) so both engines hash the same logical type.
    """
    e = load(spark, sf_dir, "events")
    dd = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    is_new = (
        F.when(
            F.lag("day").over(w).isNull()
            | (F.datediff(F.col("day"), F.lag("day").over(w)) > 1),
            1,
        )
        .otherwise(0)
        .alias("is_new")
    )
    return (
        dd.select("user_id", "day", is_new)
        .withColumn("island_idx", F.sum("is_new").over(w))
        .groupBy("user_id", "island_idx")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").alias("n_days"),
        )
    )


ROLL_MEDIAN_FRAME = 5  # rolling-median window: current + 4 preceding


@query(
    "win_rolling_median",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             LIST_SORT(LIST(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ROLL_MEDIAN_FRAME - 1} PRECEDING
                        AND CURRENT ROW)) AS vs
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, ts,
           CAST(LEN(vs) AS INT) AS n_in_frame,
           ROUND((vs[(LEN(vs) + 1) // 2]
                  + vs[LEN(vs) // 2 + 1]) / 2.0, 4) AS rolling_median
    FROM w
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of purchase value per user over the last
    {ROLL_MEDIAN_FRAME} events — the robust-statistics window Spark has
    no native aggregate for.

    Portable construction (identical on both engines, so the hash is
    exact even for even-sized frames): collect the frame into an array,
    sort it, average the two middle elements. The frame is
    constant-bounded ({ROLL_MEDIAN_FRAME} rows), so the per-row state
    is O(1) and the window partitions by user_id — no global sort, one
    hash shuffle at any scale. For data-sized frames the scale answer
    is `agg_approx_quantile`'s sketch, already registered.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_MEDIAN_FRAME - 1), W.currentRow)
    )
    vs = F.sort_array(F.collect_list("value").over(w))
    n = F.size(vs)
    # n > 0 guard: collect_list DROPS NULLs, so a frame whose every
    # value is NULL (all-null-payload twin) is EMPTY and the middle
    # index degenerates to element_at(vs, 0) — an INVALID_INDEX_OF_ZERO
    # job abort on one poisoned user. CASE branches evaluate lazily, so
    # the empty frame yields a NULL median instead (DuckDB's
    # out-of-range list index is NULL already, so the engines agree).
    med = F.when(
        n > 0,
        (
            F.element_at(vs, ((n + 1) / 2).cast("int"))
            + F.element_at(vs, (n / 2).cast("int") + 1)
        )
        / 2.0,
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        n.alias("n_in_frame"),
        pround(med, 4).alias("rolling_median"),
    )


RANGE_SECS = 3600  # trailing 1-hour value window


@query(
    "win_range_interval",
    oracle=f"""
    SELECT user_id, event_id,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
           ROUND(CAST(SUM({cents_sql("value")}) OVER w AS DOUBLE) / 100, 2)
             AS sum_trailing_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN {RANGE_SECS} PRECEDING AND CURRENT ROW)
    """,
)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour RANGE frame per user: how many events (and how much
    value) landed within the last {RANGE_SECS} seconds of *event time* —
    a value-based frame, not a row-count frame, so sparse and dense
    activity windows are treated alike (the sliding-window metric shape;
    the streaming twin is stream_sliding).

    The order key is integer epoch seconds on both engines (event
    timestamps are second-granularity, FIXTURES.md), so the RANGE
    boundary arithmetic is exact integer comparison — no interval-type
    semantics to disagree on. Partitioned by user_id: bounded per-key
    state, one hash shuffle at any scale.
    """
    e = load(spark, sf_dir, "events")
    ts_sec = F.floor(F.col("ts").cast("double")).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_sec"))
        .rangeBetween(-RANGE_SECS, W.currentRow)
    )
    return e.withColumn("ts_sec", ts_sec).select(
        "user_id",
        "event_id",
        "ts_sec",
        F.count("*").over(w).cast("bigint").alias("n_trailing_hour"),
        # exact cents sum (r10 quantization audit): a RANGE frame's row
        # count is data-dependent (a hot timestamp span at 100 TB is an
        # unbounded fold), so the frame sums exact integers.
        pround(
            F.sum(cents_col(F.col("value")).cast("decimal(38,0)"))
            .over(w)
            .cast("double")
            / 100,
            2,
        ).alias("sum_trailing_hour"),
    )
