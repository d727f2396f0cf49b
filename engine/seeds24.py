"""Round-24 seed operators — timezone-aware datetime surfaces: IANA
zone conversion (DST-correct local-time analytics) and the
make_date/make_timestamp constructor family with a component-roundtrip
proof — 2 operators, oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.session import load

TZ_LOCAL = "America/New_York"


# ---------------------------------------------------------------------------
# fn_timezone_surface — IANA zone conversion for local-time analytics
# ---------------------------------------------------------------------------


@query(
    "fn_timezone_surface",
    oracle=f"""
    WITH l AS (
      SELECT (ts AT TIME ZONE 'UTC') AT TIME ZONE '{TZ_LOCAL}' AS lt,
             event_type
      FROM events
    )
    SELECT CAST(EXTRACT(hour FROM lt) AS INT) AS local_hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM l GROUP BY 1
    """,
)
def fn_timezone_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion (`convert_timezone`): the event stream's
    UTC timestamps viewed in America/New_York LOCAL time, aggregated by
    local hour — the 'when are users actually awake' analysis every
    session-pinned-UTC pipeline (§7.5 rule 1) still has to answer, done
    the only correct way: tzdata rules (DST transitions included), not
    a fixed offset.

    Both engines delegate to the SAME IANA database — Spark via
    ``convert_timezone(from, to, ts)``, DuckDB via the double
    ``AT TIME ZONE`` idiom — so the local-hour histogram agrees even
    across the EST/EDT boundary the fixture's multi-month span
    straddles (a fixed -5:00 offset would NOT hash-match; the op fails
    if either engine shortcuts the rules).
    """
    e = load(spark, sf_dir, "events")
    lt = F.convert_timezone(F.lit("UTC"), F.lit(TZ_LOCAL), F.col("ts"))
    return (
        e.select(F.hour(lt).cast("int").alias("local_hour"), "event_type")
        .groupBy("local_hour")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_distinct("event_type").cast("bigint").alias("n_types"),
        )
    )


# ---------------------------------------------------------------------------
# fn_datetime_constructors — make_date / make_timestamp roundtrip
# ---------------------------------------------------------------------------


@query(
    "fn_datetime_constructors",
    oracle="""
    WITH c AS (
      SELECT o_orderkey, o_orderdate,
             make_date(CAST(EXTRACT(year FROM o_orderdate) AS INT),
                       CAST(EXTRACT(month FROM o_orderdate) AS INT),
                       CAST(EXTRACT(day FROM o_orderdate) AS INT))
               AS rebuilt_date,
             make_timestamp(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT),
                            CAST(EXTRACT(month FROM o_orderdate) AS BIGINT),
                            CAST(EXTRACT(day FROM o_orderdate) AS BIGINT),
                            12, 30, 0) AS noonish
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN rebuilt_date = CAST(o_orderdate AS DATE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
           CAST(SUM(CAST(EXTRACT(hour FROM noonish) AS BIGINT)) AS BIGINT)
             AS hour_sum
    FROM c
    """,
)
def fn_datetime_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime CONSTRUCTOR surface (`make_date` / `make_timestamp`):
    every order date decomposed into (year, month, day) components and
    rebuilt — the component-roundtrip identity that catches 1-based vs
    0-based month bugs, and the constructor path ingestion uses when
    dates arrive as separate fields (common in CSV/mainframe feeds).

    The roundtrip count is pinned equal to the row count by the oracle;
    the constructed 12:30 timestamp's hour-sum proves the time
    components land where declared. Pure calendar arithmetic — both
    engines implement the proleptic Gregorian calendar, so equality is
    exact. Map-only, one final 1-row aggregate.
    """
    o = load(spark, sf_dir, "orders")
    rebuilt = F.make_date(
        F.year("o_orderdate"), F.month("o_orderdate"), F.dayofmonth("o_orderdate")
    )
    noonish = F.make_timestamp(
        F.year("o_orderdate"),
        F.month("o_orderdate"),
        F.dayofmonth("o_orderdate"),
        F.lit(12),
        F.lit(30),
        F.lit(0),
    )
    c = o.select(
        (rebuilt == F.col("o_orderdate").cast("date")).cast("int").alias("ok"),
        F.hour(noonish).cast("bigint").alias("h"),
    )
    return c.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("ok").cast("bigint").alias("n_roundtrip_ok"),
        F.sum("h").cast("bigint").alias("hour_sum"),
    )
