"""Round-15 seed operators — peak detection, survivor-policy dedup,
grouping_id rollup markers, generator expressions (inline/stack),
physical-distribution SQL clauses, and static partition-pruned reads —
6 operators, all oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, _DAY_SQL, cents_col, pround
from engine.registry import query
from engine.session import load


PRUNE_YEAR = 1996


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
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            cents_col(F.col("value")).alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").alias("v"))
    )
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


# ---------------------------------------------------------------------------
# llm_survivor_policy_longest — keep-longest dedup survivor policy
# ---------------------------------------------------------------------------


@query(
    "llm_survivor_policy_longest",
    oracle="""
    WITH c AS (
      SELECT MD5(text) AS h, doc_id, n_chars FROM documents
    ), g AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS cluster_size,
             CAST(MAX_BY(doc_id, CAST(n_chars AS BIGINT) * 100000000
                           - doc_id) AS BIGINT)
               AS survivor_longest,
             CAST(MIN(doc_id) AS BIGINT) AS survivor_minid
      FROM c GROUP BY 1
    )
    SELECT h, cluster_size, survivor_longest, survivor_minid,
           CAST(survivor_longest <> survivor_minid AS INT)
             AS policy_differs
    FROM g WHERE cluster_size > 1
    """,
)
def llm_survivor_policy_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivor POLICY comparison: for every exact-duplicate
    cluster, the keep-LONGEST survivor (max n_chars, ties to the lowest
    doc_id) next to the keep-min-id survivor the rest of the dedup
    family uses — the curation decision that changes which bytes train
    (longest keeps the most complete copy; min-id keeps the earliest
    crawl).

    max_by over the PACKED key n_chars·10⁸ − doc_id makes the
    tie-break deterministic on both engines with one bigint comparison
    (DuckDB's max_by has no row-value ordering; the pack is exact while
    doc_id < 10⁸ — the agg_conditional_family key-packing trick). Same
    single-shuffle shape as llm_exact_dedup; the policy flag makes the
    rows where the choice MATTERS visible.
    """
    d = load(spark, sf_dir, "documents")
    g = (
        d.select(F.md5("text").alias("h"), "doc_id", "n_chars")
        .groupBy("h")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            # bigint pack explicitly: n_chars arrives as int32 from
            # some writers, and int32 · 10⁸ overflows on BOTH engines
            # (caught by the degenerate-text exact sweep).
            F.max_by(
                "doc_id",
                F.col("n_chars").cast("bigint") * F.lit(100000000)
                - F.col("doc_id"),
            )
            .cast("bigint")
            .alias("survivor_longest"),
            F.min("doc_id").cast("bigint").alias("survivor_minid"),
        )
    )
    return g.filter(F.col("cluster_size") > 1).select(
        "h",
        "cluster_size",
        "survivor_longest",
        "survivor_minid",
        (F.col("survivor_longest") != F.col("survivor_minid"))
        .cast("int")
        .alias("policy_differs"),
    )


# ---------------------------------------------------------------------------
# agg_grouping_id_surface — rollup with grouping_id markers
# ---------------------------------------------------------------------------


@query(
    "agg_grouping_id_surface",
    oracle=f"""
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(GROUPING(event_type) * 2 + GROUPING(EXTRACT(hour FROM ts))
                AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events
    GROUP BY ROLLUP(event_type, EXTRACT(hour FROM ts))
    HAVING COUNT(*) > 0  -- empty-input semantics, see agg_rollup
    """,
)
def agg_grouping_id_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``grouping_id()`` markers on a rollup: every output row carries
    the bitmask saying WHICH level it belongs to (0 = leaf, 1 = per-type
    subtotal, 3 = grand total) — the disambiguator that makes subtotal
    rows machine-readable when NULL is also a legitimate data value
    (agg_rollup leaves that ambiguity in place; this op closes it).

    Spark's grouping_id() ≡ DuckDB's GROUPING(a)·2 + GROUPING(b) for a
    two-column rollup — the oracle spells the bit arithmetic out. Same
    Expand-based single-pass rollup plan as agg_rollup.
    """
    e = load(spark, sf_dir, "events")
    hr = F.hour("ts").cast("int")
    return (
        e.select("event_type", hr.alias("hr"), cents_col(F.col("value")).alias("c"))
        .rollup("event_type", "hr")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("cents"),
        )
        .select("event_type", "hr", "gid", "n", "cents")
    )


# ---------------------------------------------------------------------------
# fn_inline_stack — generator expression surface (inline / stack)
# ---------------------------------------------------------------------------


@query(
    "fn_inline_stack",
    oracle=f"""
    WITH base AS (
      SELECT event_id, event_type, {_CENTS_SQL} AS c FROM events
    )
    SELECT event_id, 'gross' AS measure, CAST(c AS BIGINT) AS val
    FROM base
    UNION ALL
    SELECT event_id, 'net', CAST(c - c // 10 AS BIGINT) FROM base
    UNION ALL
    SELECT event_id, 'fee', CAST(c // 10 AS BIGINT) FROM base
    """,
)
def fn_inline_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-expression surface: ``stack(3, ...)`` fans each event
    into three (measure, value) rows — gross, net, fee — in ONE
    projection (the row-generator siblings of explode; UNPIVOT compiles
    to the same Generate operator, and the oracle writes the UNION ALL
    longhand).

    Integer fee split (c div 10) keeps every generated value exact.
    Map-only Generate — the fan-out is a constant ×3, no shuffle, no
    join; at 100 TB this is how wide measures become long without
    paying UNION ALL's three scans (one scan here — the plan the
    oracle's formulation would triple).
    """
    e = load(spark, sf_dir, "events")
    c = cents_col(F.col("value"))
    stacked = F.expr(
        "stack(3, 'gross', c, 'net', c - c div 10, 'fee', c div 10) "
        "AS (measure, val)"
    )
    return (
        e.select("event_id", c.alias("c"))
        .select("event_id", stacked)
        .select("event_id", "measure", F.col("val").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# sql_distribute_sort_by — DISTRIBUTE BY / SORT BY physical clauses
# ---------------------------------------------------------------------------


@query(
    "sql_distribute_sort_by",
    oracle=f"""
    SELECT user_id, {_DAY_SQL} AS day,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
    """,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY SQL surface: the day-grain rollup with an
    explicit physical layout clause — rows hash-distributed on user_id
    and sorted within partitions by (user_id, day), the
    repartition+sortWithinPartitions idiom as SQL (what you emit
    immediately before a clustered write, and the SQL twin of
    sink_partitioned_parquet's pre-write clustering).

    The clauses change the EXCHANGE/SORT shape, never the row set —
    which is exactly what the oracle checks (same aggregate, no layout
    clause). Plan carries hashpartitioning(user_id) + a partial sort
    (pinned in tests/test_seeds9_properties.py).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("ds_events")
    return spark.sql(
        """
        SELECT user_id,
               CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM ds_events
        GROUP BY 1, 2
        DISTRIBUTE BY user_id SORT BY user_id, day
        """
    )


# ---------------------------------------------------------------------------
# source_partitioned_read_prune — static partition pruning on read
# ---------------------------------------------------------------------------


@query(
    "source_partitioned_read_prune",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = {PRUNE_YEAR}
    GROUP BY 1
    """,
)
def source_partitioned_read_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning on read: orders written
    year-partitioned (hive-style yr=... directories), re-read with a
    partition-column predicate — the scan must touch ONLY the matching
    directory (PartitionFilters + PartitionCount pinned in tests; the
    DYNAMIC sibling is join_dpp_prune, where the year arrives from a
    joined dim instead of a literal).

    This is THE 100 TB table layout contract: a date-partitioned fact
    plus partition predicates turns a full-table scan into a
    one-partition read before a single row is decoded. The audit
    aggregate after the pruned read must equal the oracle's plain
    filtered aggregate over the unpartitioned table.
    """
    o = load(spark, sf_dir, "orders")
    # Empty source: a partitioned write of zero rows emits no partition
    # directories and the read-back cannot infer a schema — the same
    # empty-batch class the streaming merge sink guards against
    # (ADVICE r4). Short-circuit with the declared result schema.
    if o.isEmpty():
        return spark.createDataFrame([], "yr int, n bigint, cents bigint")
    tmp = Path(tempfile.mkdtemp(prefix="prune_"))
    try:
        (
            o.withColumn("yr", F.year("o_orderdate").cast("int"))
            .write.mode("overwrite")
            .partitionBy("yr")
            .parquet(str(tmp / "orders_p"))
        )
        back = spark.read.parquet(str(tmp / "orders_p"))
        out = (
            back.filter(F.col("yr") == PRUNE_YEAR)
            .groupBy("yr")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("cents"),
            )
        )
        rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "yr int, n bigint, cents bigint")
