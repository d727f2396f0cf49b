"""Round-16 seed operators — product-analytics metrics with
bounded-fanout rewrites (new-vs-returning split, DAU/WAU rolling
actives), the FILTER-clause and named-WINDOW SQL syntaxes, and a
geometric-mean aggregate — 5 operators, all oracled.

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
    ud = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        )
        .distinct()
    )
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
    ud = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        )
        .distinct()
    )
    return dau_wau_core(ud)


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


# ---------------------------------------------------------------------------
# agg_filter_clause_syntax — SQL-standard FILTER (WHERE ...) aggregates
# ---------------------------------------------------------------------------

_FILTER_SQL = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE value >= 100) AS BIGINT) AS n_big,
           CAST(SUM({_CENTS_SQL}) FILTER (WHERE value >= 100) AS BIGINT)
             AS cents_big,
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE value >= 100)
                AS BIGINT) AS users_big
    FROM events GROUP BY 1
"""


@query("agg_filter_clause_syntax", oracle=_FILTER_SQL)
def agg_filter_clause_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard ``FILTER (WHERE ...)`` aggregate clause — IDENTICAL
    SQL text on both engines (the declarative form of the
    CASE-WHEN-conditional aggregates agg_conditional_family builds by
    hand), including a filtered COUNT(DISTINCT).

    Catalyst compiles FILTER into the aggregate's condition — one
    two-phase hash aggregate, no extra scan per filtered measure
    (the naive one-subquery-per-measure formulation would pay four).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_FILTER_SQL)


# ---------------------------------------------------------------------------
# sql_named_window — WINDOW clause definition reuse
# ---------------------------------------------------------------------------

_NAMED_WIN_SQL = f"""
    SELECT event_id, user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(SUM({_CENTS_SQL}) OVER wf AS BIGINT) AS running_cents,
           LAG(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("sql_named_window", oracle=_NAMED_WIN_SQL)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named ``WINDOW`` clause surface — window definitions declared
    once in the WINDOW clause and reused by three functions (the
    framed running sum gets its own named spec: Spark's parser — unlike
    DuckDB's — does not accept extending a named window inline with a
    frame, so the shared text uses the portable two-name form),
    IDENTICAL SQL text on both engines.

    Beyond syntax, the reuse is a PLAN property: all three functions
    share one user_id exchange + one sort because they share the spec —
    the same single-shuffle discipline the DataFrame-side ops enforce
    by hand (win_sessionize, win_running_distinct). Unique
    (ts, event_id) ordering keeps every output bit-stable.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_NAMED_WIN_SQL)


# ---------------------------------------------------------------------------
# agg_geomean — geometric mean via log-space aggregation
# ---------------------------------------------------------------------------


@query(
    "agg_geomean",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {_CENTS_SQL} AS c FROM events
      WHERE value > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(EXP(AVG(LN(c))), 2) AS geomean_cents,
           ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 2) AS mean_cents
    FROM c GROUP BY 1
    """,
)
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of positive event values (exp∘avg∘ln — the
    multiplicative average that tames right-skewed spend
    distributions), next to the arithmetic mean for the skew gap.

    The ln/avg/exp pipeline is float by nature: per-element ln is
    correctly-rounded on both engines, the AVG introduces the usual
    summation-order ulp (§7.5 convention — 2 dp on values O(10³-10⁴)
    is a wide guard band; the exact-integer alternative is the product
    overflowing immediately, which is WHY log-space is the scale
    form). Map-combined single aggregate; AM ≥ GM is asserted as a
    property in tests.
    """
    e = load(spark, sf_dir, "events")
    c = e.filter(F.col("value") > 0).select(
        "event_type", cents_col(F.col("value")).alias("c")
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        pround(F.exp(F.avg(F.log("c"))), 2).alias("geomean_cents"),
        pround(F.sum("c").cast("double") / F.count("*"), 2).alias(
            "mean_cents"
        ),
    )
