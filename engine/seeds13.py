"""Round-13 seed operators — survival/engagement curves, equi-depth
(CBO-style) histograms, catalog statistics collection (ANALYZE), and a
haversine geo-distance surface — 4 operators, all oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _DAY_SQL, pround
from engine.registry import query
from engine.session import load


EQUIDEPTH_BUCKETS = 8
EARTH_R_M = 6371000.0


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
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
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
# agg_equidepth_histogram — quantile-bucket (CBO-style) histogram
# ---------------------------------------------------------------------------


@query(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH c AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ), b AS (
      SELECT cents,
             CAST(NTILE({EQUIDEPTH_BUCKETS}) OVER (
               ORDER BY cents, o_orderkey) AS INT) AS bucket
      FROM c
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents,
           CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_distinct
    FROM b GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: 8 quantile buckets of
    near-equal row count with their value bounds and distinct counts —
    the histogram shape cost-based optimizers actually keep (equal-width
    bins, agg_histogram, starve on skewed data; equal-depth bins adapt),
    and the bucket-bound layout a range-partitioner would use.

    ntile over the unique (cents, o_orderkey) order is deterministic on
    both engines. The global ntile implies a total sort — correct for
    the ≤row-count-sized stats sample a CBO collects; the 100 TB path
    replaces ntile with approx_percentile bucket BOUNDS (one pass,
    audited by agg_percentile_drift) and bins by comparison instead.
    """
    o = load(spark, sf_dir, "orders")
    c = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    b = c.select(
        "cents",
        F.ntile(EQUIDEPTH_BUCKETS)
        .over(W.orderBy("cents", "o_orderkey"))
        .cast("int")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
        F.count_distinct("cents").cast("bigint").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# maint_analyze_stats — ANALYZE TABLE catalog statistics
# ---------------------------------------------------------------------------


@query(
    "maint_analyze_stats",
    oracle="""
    SELECT 'rowCount' AS stat,
           CAST(COUNT(*) AS BIGINT) AS value,
           CAST(1 AS INT) AS matches_exact
    FROM events
    UNION ALL
    SELECT 'sizeInBytes_positive', CAST(1 AS BIGINT), CAST(1 AS INT)
    """,
)
def maint_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics collection (`ANALYZE TABLE ... COMPUTE
    STATISTICS`): the events table registered as a managed scratch
    table, analyzed, and the catalog's rowCount/sizeInBytes read back
    through DESCRIBE EXTENDED — the stats feed for CBO join reordering
    and broadcast decisions, which at 100 TB is a scheduled maintenance
    job exactly like compaction.

    The audit row pins rowCount == exact COUNT(*) (the correctness of
    the stats pipeline) and sizeInBytes > 0 (presence). Scratch
    database dropped after collection — same catalog hygiene as
    join_bucketed_colocated.
    """
    import uuid

    e = load(spark, sf_dir, "events")
    db = f"stats_scratch_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        e.write.mode("overwrite").format("parquet").saveAsTable(
            f"{db}.events_t"
        )
        spark.sql(f"ANALYZE TABLE {db}.events_t COMPUTE STATISTICS")
        det = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.events_t").collect()
        stats_line = next(
            r.data_type for r in det if r.col_name == "Statistics"
        )
        # e.g. "12345678 bytes, 100000 rows"
        parts = stats_line.replace(",", "").split()
        size_bytes = int(parts[0])
        row_count = int(parts[2])
        exact = e.count()
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    rows = [
        ("rowCount", row_count, int(row_count == exact)),
        ("sizeInBytes_positive", 1, int(size_bytes > 0)),
    ]
    return spark.createDataFrame(
        rows, "stat string, value bigint, matches_exact int"
    )


# ---------------------------------------------------------------------------
# fn_haversine_distance — great-circle distance surface
# ---------------------------------------------------------------------------


@query(
    "fn_haversine_distance",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             (CAST(user_id % 180 AS DOUBLE) - 89.5) AS lat,
             (CAST((user_id * 7) % 360 AS DOUBLE) - 179.5) AS lon
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT user_id, lat, lon,
           ROUND(2 * {EARTH_R_M!r} * ASIN(SQRT(
             SIN(RADIANS(lat - 48.8566) / 2) * SIN(RADIANS(lat - 48.8566) / 2)
             + COS(RADIANS(48.8566)) * COS(RADIANS(lat))
               * SIN(RADIANS(lon - 2.3522) / 2)
               * SIN(RADIANS(lon - 2.3522) / 2)
           )) / 1000, 2) AS dist_km
    FROM pts
    """,
)
def fn_haversine_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine great-circle distance surface: per-user synthetic
    coordinates (derived deterministically from user_id — the fixtures
    carry no geo columns, so the trig surface is what's under test) to
    a fixed anchor point, in km.

    The formula is spelled with the same operation sequence on both
    engines (radians → sin/cos → asin of sqrt); libm sin/cos/asin are
    correctly-rounded for these magnitudes on both (glibc/JVM double
    trig), and the result rounds to 2 dp km — a ~10 m guard band, far
    above any ulp divergence. Map-only over the distinct-user table;
    geo joins at scale would band by geohash cell before any pairwise
    distance, the same candidate-then-verify shape as the LSH family.
    """
    e = load(spark, sf_dir, "events")
    pts = e.select("user_id").distinct().select(
        "user_id",
        ((F.col("user_id") % 180).cast("double") - 89.5).alias("lat"),
        (((F.col("user_id") * 7) % 360).cast("double") - 179.5).alias("lon"),
    )
    lat_a, lon_a = 48.8566, 2.3522
    dlat = F.radians(F.col("lat") - lat_a) / 2
    dlon = F.radians(F.col("lon") - lon_a) / 2
    h = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(F.lit(lat_a)))
        * F.cos(F.radians(F.col("lat")))
        * F.sin(dlon)
        * F.sin(dlon)
    )
    return pts.select(
        "user_id",
        "lat",
        "lon",
        pround(2 * EARTH_R_M * F.asin(F.sqrt(h)) / 1000, 2).alias(
            "dist_km"
        ),
    )
