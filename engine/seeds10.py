"""Round-10 seed operators — SQL-syntax surface parity (PIVOT /
UNPIVOT / GROUP BY ALL / listagg WITHIN GROUP), two I/O surfaces (XML
roundtrip, parquet codec audit), marketing attribution over conditional
RANGE frames, label centroids over quantized embeddings, the nth_value
window surface, and prefix-cluster dedup — 10 operators, all oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory, continuing the r4→r9
growth playbook.

Import discipline: leaf modules only at module scope — see seeds8.
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


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ATTR_WINDOW_S = 3600
EMB_QUANT = 10**6
PREFIX_LEN = 16


# ---------------------------------------------------------------------------
# sql_pivot_surface — SQL PIVOT syntax
# ---------------------------------------------------------------------------


@query(
    "sql_pivot_surface",
    oracle=f"""
    SELECT user_id,
           {", ".join(
             f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
             f" AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def sql_pivot_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT syntax surface: per-user event counts pivoted to one
    column per type — the SQL-entry-point twin of the DataFrame-API
    ``agg_pivot`` (engine/relational.py), proving the parser/analyzer
    path, not just the relational algebra.

    Catalyst compiles PIVOT to exactly the conditional aggregation the
    oracle writes out longhand — one shuffle on user_id, map-side
    partial aggregation, no row explosion (the pivot column list is the
    closed 5-type alphabet, declared inline as the SQL standard
    requires). The oracle uses the portable conditional-SUM form since
    DuckDB's PIVOT dialect differs — same semantics, two syntaxes.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("pv_events")
    in_list = ", ".join(f"'{t}' AS n_{t}" for t in EVENT_TYPES)
    return spark.sql(
        f"""
        SELECT user_id, {", ".join(
            f"CAST(COALESCE(n_{t}, 0) AS BIGINT) AS n_{t}"
            for t in EVENT_TYPES)}
        FROM (SELECT user_id, event_type FROM pv_events)
        PIVOT (COUNT(*) FOR event_type IN ({in_list}))
        """
    )


# ---------------------------------------------------------------------------
# sql_unpivot_surface — SQL UNPIVOT syntax
# ---------------------------------------------------------------------------


@query(
    "sql_unpivot_surface",
    oracle=f"""
    WITH w AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = 'click' THEN {_CENTS_SQL}
                 ELSE 0 END) AS BIGINT) AS click,
        CAST(SUM(CASE WHEN event_type = 'view' THEN {_CENTS_SQL}
                 ELSE 0 END) AS BIGINT) AS view,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN {_CENTS_SQL}
                 ELSE 0 END) AS BIGINT) AS purchase
      FROM events
    )
    SELECT 'total_cents' AS measure, m.event_type,
           CASE m.event_type WHEN 'click' THEN w.click
                             WHEN 'view' THEN w.view
                             ELSE w.purchase END AS val
    FROM w CROSS JOIN (VALUES ('click'), ('view'), ('purchase'))
                      m(event_type)
    WHERE CASE m.event_type WHEN 'click' THEN w.click
                            WHEN 'view' THEN w.view
                            ELSE w.purchase END IS NOT NULL
    """,
)
def sql_unpivot_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNPIVOT syntax surface: a wide 3-column per-type totals row
    melted back to (measure, event_type, val) rows — the SQL-entry-point
    twin of the DataFrame ``agg_unpivot``/``agg_melt_nulls`` family.

    The wide side is built with conditional aggregation in the same
    query, so the operator demonstrates the full pivot→unpivot
    round-trip in ONE plan. The oracle mirrors the wide-then-melt
    shape exactly — conditional sums over the WHOLE table, melted via
    a 3-row VALUES cross join — so a type with zero events still
    yields its 0 row (the previous per-present-type GROUP BY silently
    dropped absent types, caught by the one-row exact sweep), and the
    IS NOT NULL guard reproduces UNPIVOT's excludeNulls on a fully
    empty table (SUM over zero rows is NULL → Spark drops the row).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("upv_events")
    return spark.sql(
        f"""
        WITH wide AS (
          SELECT
            CAST(SUM(CASE WHEN event_type = 'click' THEN {_CENTS_SQL}
                     ELSE 0 END) AS BIGINT) AS click,
            CAST(SUM(CASE WHEN event_type = 'view' THEN {_CENTS_SQL}
                     ELSE 0 END) AS BIGINT) AS view,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN {_CENTS_SQL}
                     ELSE 0 END) AS BIGINT) AS purchase
          FROM upv_events
        )
        SELECT 'total_cents' AS measure, event_type, val
        FROM wide
        UNPIVOT (val FOR event_type IN (click, view, purchase))
        """
    )


# ---------------------------------------------------------------------------
# agg_string_agg_ordered — listagg WITHIN GROUP (ORDER BY)
# ---------------------------------------------------------------------------


@query(
    "agg_string_agg_ordered",
    oracle="""
    WITH a AS (
      SELECT user_id,
             STRING_AGG(DISTINCT event_type, ',' ORDER BY event_type)
               AS types_csv
      FROM events GROUP BY user_id
    )
    SELECT user_id, types_csv,
           CAST(LEN(STRING_SPLIT(types_csv, ',')) AS BIGINT) AS n_types
    FROM a
    """,
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (`listagg ... WITHIN GROUP` — new in
    Spark 4): each user's distinct event types as a canonical
    comma-joined sorted string — the deterministic-concatenation form
    every report/export needs (unordered listagg output is
    partition-order-dependent and would never hash-match).

    WITHIN GROUP (ORDER BY) is the SQL-standard way to pin the order;
    DuckDB spells it STRING_AGG(... ORDER BY ...). One user_id shuffle;
    the per-group sort is bounded by the 5-type alphabet. n_types is
    derived from the csv instead of a sibling COUNT(DISTINCT): Spark
    4.1 throws a planner ClassCastException (AttributeReference →
    SortOrder) when listagg-DISTINCT-WITHIN-GROUP shares a SELECT with
    another distinct aggregate — worked around, and the derivation is
    checked by the oracle anyway.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("la_events")
    return spark.sql(
        """
        WITH a AS (
          SELECT user_id,
                 listagg(DISTINCT event_type, ',')
                   WITHIN GROUP (ORDER BY event_type) AS types_csv
          FROM la_events GROUP BY user_id
        )
        SELECT user_id, types_csv,
               CAST(SIZE(SPLIT(types_csv, ',')) AS BIGINT) AS n_types
        FROM a
        """
    )


# ---------------------------------------------------------------------------
# sql_group_by_all — GROUP BY ALL / ORDER BY ALL surface
# ---------------------------------------------------------------------------

_GBALL_SQL = f"""
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events
    GROUP BY ALL
    ORDER BY ALL
"""


@query("sql_group_by_all", oracle=_GBALL_SQL.replace("FROM events", "FROM events"))
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL (Spark 4 ≡ DuckDB — IDENTICAL SQL
    text on both engines): the analyst-ergonomics surface that infers
    grouping keys from the non-aggregate select list.

    Semantically identical to spelling the keys out — Catalyst resolves
    ALL during analysis, so the plan is the ordinary two-phase hash
    aggregate; ORDER BY ALL adds a final sort the driver's
    order-insensitive hash doesn't even need (kept to exercise the
    resolution path).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_GBALL_SQL)


# ---------------------------------------------------------------------------
# source_xml_roundtrip — XML write → read → verify (Spark 4 built-in XML)
# ---------------------------------------------------------------------------


@query(
    "source_xml_roundtrip",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events GROUP BY 1
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip (`format("xml")` — built into Spark 4,
    the old spark-xml package absorbed): events written as XML rows,
    read back with an EXPLICIT schema (never infer on re-read), then
    aggregated; the oracle aggregates the original table, so any
    serialization loss (type mangling, escaping, dropped rows) breaks
    the hash — a STRONGER check than the rows-only CSV/JSON roundtrips
    (their pattern predates oracle-able roundtrips;
    stream_foreach_batch_merge proved side-effecting ops can hash).

    Cents are computed AFTER the roundtrip from the re-parsed doubles —
    shortest-repr double serialization roundtrips exactly, and the
    integer-cent aggregate makes that assumption checkable.
    """
    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    tmp = Path(tempfile.mkdtemp(prefix="xmlrt_"))
    try:
        (
            e.write.format("xml")
            .option("rowTag", "event")
            .mode("overwrite")
            .save(str(tmp / "events_xml"))
        )
        back = (
            spark.read.format("xml")
            .option("rowTag", "event")
            .schema("event_id long, event_type string, value double")
            .load(str(tmp / "events_xml"))
        )
        out = (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents_col(F.col("value"))).alias("cents"),
            )
            .select(
                "event_type",
                F.col("n").cast("bigint"),
                F.col("cents").cast("bigint"),
            )
        )
        rows = out.collect()  # materialize before the tmp dir vanishes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n bigint, cents bigint"
    )


# ---------------------------------------------------------------------------
# sink_codec_audit — parquet compression-codec roundtrip audit
# ---------------------------------------------------------------------------

CODECS = ("snappy", "zstd")


@query(
    "sink_codec_audit",
    oracle=f"""
    SELECT c.codec, CAST(e.n AS BIGINT) AS n_rows,
           CAST(1 AS INT) AS roundtrip_ok
    FROM (SELECT 'snappy' AS codec UNION ALL SELECT 'zstd') c
    CROSS JOIN (SELECT COUNT(*) AS n FROM events) e
    """,
)
def sink_codec_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec audit: the events table written as parquet
    under snappy AND zstd, each read back and checked for exact row
    count + integer-cent checksum equality — the codec qualification a
    platform runs before flipping a 100 TB table's default (zstd
    typically trades ~10-30 % smaller files for CPU; correctness must
    be a non-event, which is exactly what this pins).

    Writes are scratch-dir side effects (excluded from the plan sweep
    like the other sink ops); the audit row is metadata-sized.
    """
    e = load(spark, sf_dir, "events")
    base = e.agg(
        F.count("*").alias("n"), F.sum(cents_col(F.col("value"))).alias("s")
    ).collect()[0]
    tmp = Path(tempfile.mkdtemp(prefix="codec_"))
    rows = []
    try:
        for codec in CODECS:
            path = tmp / codec
            e.write.option("compression", codec).mode("overwrite").parquet(
                str(path)
            )
            back = spark.read.parquet(str(path))
            chk = back.agg(
                F.count("*").alias("n"), F.sum(cents_col(F.col("value"))).alias("s")
            ).collect()[0]
            ok = int(chk["n"] == base["n"] and chk["s"] == base["s"])
            rows.append((codec, chk["n"], ok))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "codec string, n_rows bigint, roundtrip_ok int"
    )


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


# ---------------------------------------------------------------------------
# mm_embedding_centroids — per-label centroids over quantized embeddings
# ---------------------------------------------------------------------------


@query(
    "mm_embedding_centroids",
    oracle=f"""
    WITH q AS (
      SELECT label,
             UNNEST(generate_series(1, LEN(embedding))) - 1 AS dim,
             TRY_CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE)
                            * {EMB_QUANT}) AS BIGINT) AS qx
      FROM embeddings
    )
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(qx) AS DOUBLE) / COUNT(*) / {EMB_QUANT}, 6)
             AS centroid_comp
    FROM q GROUP BY 1, 2
    """,
)
def mm_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class-prototype primitive
    behind nearest-centroid classification, SemDeDup-style pruning, and
    IVF coarse quantizers — computed on (label, dimension) grain via
    posexplode.

    Determinism by QUANTIZATION, not luck: float components are floored
    to integer micro-units BEFORE summing, so the per-cell sums are
    exact bigints (order-independent — float summation order across
    partitions would otherwise make centroid components engine-varying
    at the ulp level, the same trap the zscore ADVICE documented). The
    dimension explode is a bounded ×64 fan-out feeding ONE map-combined
    aggregation; at 100 TB this is the standard mapInPandas-free way to
    mean-pool vectors (kmeans' iterative path shares the shape).
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        # Range-guarded quantization: a nonfinite or int64-overflowing
        # component (NaN/±Inf-poisoned batch, fp blowup upstream)
        # quantizes to NULL and drops out of the exact integer sum on
        # BOTH engines, instead of an ANSI overflow abort
        # (non-finite-embeddings sweep). The guard must run BEFORE
        # floor(): Spark's floor(double) returns BIGINT and silently
        # CLAMPS ±Inf/out-of-range to Long.MaxValue — a try_cast around
        # it never sees the overflow, Long.MaxValue enters the group
        # sum, and the second poisoned row in a cell aborts the job
        # with ARITHMETIC_OVERFLOW (caught by the nonfinite sweep, r8).
        # DuckDB's FLOOR stays DOUBLE and TRY_CAST nulls anything
        # outside int64, so the explicit [-2^63, 2^63) window below is
        # the exact Spark equivalent (NaN fails the between, ±Inf fail
        # the bounds, and every in-range double floors losslessly).
        F.expr(
            f"""case when cast(x as double) * {EMB_QUANT}
                          >= -9.223372036854776e18
                      and cast(x as double) * {EMB_QUANT}
                          < 9.223372036854776e18
                     then floor(cast(x as double) * {EMB_QUANT})
                     else cast(null as bigint) end"""
        ).alias("qx"),
    )
    return q.groupBy("label", "dim").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        pround(
            F.sum("qx").cast("double") / F.count("*") / EMB_QUANT, 6
        ).alias("centroid_comp"),
    )


# ---------------------------------------------------------------------------
# win_nth_value — nth_value window surface
# ---------------------------------------------------------------------------


@query(
    "win_nth_value",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
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
# llm_prefix_cluster — prefix-key exact clustering
# ---------------------------------------------------------------------------


@query(
    "llm_prefix_cluster",
    oracle=f"""
    SELECT SUBSTRING(text, 1, {PREFIX_LEN}) AS prefix,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(doc_id) AS BIGINT) AS survivor,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_absorbed
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def llm_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-key clustering: documents sharing their first 16
    characters grouped into clusters with a min-doc_id survivor — the
    cheap O(n) first rung of the dedup ladder (exact hash → prefix →
    MinHash → embedding), catching boilerplate openings and template
    families before any pairwise work.

    Single map-combined aggregation on the prefix key; survivors follow
    the same min-id rule as llm_dedup_survivors so downstream stages
    compose. At 100 TB the prefix IS the shuffle key — short, dense,
    and naturally skew-resistant compared to full-text hashing of
    giant near-identical documents.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.substring("text", 1, PREFIX_LEN).alias("prefix")
        )
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.min("doc_id").cast("bigint").alias("survivor"),
            (F.count("*") - 1).cast("bigint").alias("n_absorbed"),
        )
        .filter(F.col("cluster_size") > 1)
    )
