"""SQL and DataFrame API surface (``sql_``, ``df_``, ``source_``,
``sink_`` and ``maint_`` queries): SQL syntax forms, DataFrame API
methods, data sources and sinks, and table maintenance.

SQL-surface queries run the same SQL text on both engines (``spark.sql``
over temp views, DuckDB in the oracle), with only the portable-round
rewrite applied to each side.

Writes go to per-call temporary directories or uuid-named scratch
tables, and are read back and verified inside the query.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import (
    _CENTS_SQL,
    _DAY_SQL,
    cents_col,
    day_col,
    portable_round_sql,
    pround,
)
from engine.registry import query
from engine.roundtrip import SCRATCH, roundtrip_verified, roundtrip_verified_big
from engine.session import load


# ---------------------------------------------------------------------------
# source_schema_evolution — mergeSchema read across schema versions
# ---------------------------------------------------------------------------

SCHEMA_V1_MAX_ID = 200


@query(
    "source_schema_evolution",
    oracle=f"""
    WITH unioned AS (
      SELECT doc_id, lang, NULL::BIGINT AS n_chars
      FROM documents WHERE doc_id < {SCHEMA_V1_MAX_ID}
      UNION ALL
      SELECT doc_id, lang, n_chars
      FROM documents WHERE doc_id >= {SCHEMA_V1_MAX_ID}
    )
    SELECT lang,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_v1_rows,
           CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS sum_chars
    FROM unioned GROUP BY lang
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the documents
    table — v1 (doc_id, lang) and v2 (+ n_chars) — read back in ONE
    scan with ``mergeSchema=true``; v1 rows surface NULL for the added
    column. The ingest reality at 100 TB: a petabyte lake is never one
    schema, and the engine must widen on read rather than rewrite
    history. The per-lang audit proves both the union schema and the
    null-fill semantics.

    Footer merging is a one-time planning cost (driver reads N footers,
    not data); the scan itself stays a single pushdown-capable parquet
    source. Result is re-localized before the scratch dir is deleted
    (sink_partitioned_parquet lifecycle).
    """
    d = load(spark, sf_dir, "documents")
    out = Path(tempfile.mkdtemp(prefix="engine_schemev_"))
    try:
        (
            d.filter(F.col("doc_id") < SCHEMA_V1_MAX_ID)
            .select("doc_id", "lang")
            .write.mode("overwrite")
            .parquet(str(out / "gen=1"))
        )
        (
            d.filter(F.col("doc_id") >= SCHEMA_V1_MAX_ID)
            .select("doc_id", "lang", "n_chars")
            .write.mode("overwrite")
            .parquet(str(out / "gen=2"))
        )
        merged = spark.read.option("mergeSchema", "true").parquet(
            str(out / "gen=1"), str(out / "gen=2")
        )
        res = merged.groupBy("lang").agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("n_chars").isNull(), 1).otherwise(0)
            ).alias("n_v1_rows"),
            F.sum(F.coalesce("n_chars", F.lit(0))).alias("sum_chars"),
        )
        return spark.createDataFrame(res.collect(), schema=res.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


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


HIER_START_CAP = 200


# ---------------------------------------------------------------------------
# sql_recursive_hierarchy — WITH RECURSIVE ancestor walk (Spark 4 RCTE)
# ---------------------------------------------------------------------------

# One SQL text for BOTH engines (the same-SQL-both-engines discipline as
# sql_exists_subquery): a derived part hierarchy parent(p) = ⌊p/7⌋ walks
# each capped start part up its ancestor chain, accumulating exact
# retail-price cents; recursion terminates when the parent id has no
# part row (or reaches 0). Depth is bounded by log₇(max key).
_HIER_SQL = f"""
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS start_key,
             p_partkey AS cur,
             0 AS depth,
             CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cost
      FROM part WHERE p_partkey < {HIER_START_CAP}
      UNION ALL
      SELECT w.start_key, p.p_partkey, w.depth + 1,
             w.cost + CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
      FROM walk w
      JOIN part p
        ON p.p_partkey = CAST(FLOOR(w.cur / 7.0) AS BIGINT)
       AND w.cur >= 7
    )
    SELECT start_key,
           CAST(MAX(depth) AS INT) AS chain_depth,
           CAST(MAX(cost) AS BIGINT) AS chain_cost_cents
    FROM walk GROUP BY start_key
"""


@query("sql_recursive_hierarchy", oracle=_HIER_SQL)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new in Spark 4): hierarchical
    ancestor walk over a derived part taxonomy (parent = ⌊key/7⌋),
    returning each start part's chain depth and exact accumulated cost.
    IDENTICAL SQL text runs on Spark and DuckDB.

    Scale design: Spark executes the recursion as an iterative
    union-loop of JOINS — each step is a distributed hash join on the
    parent key, never a driver loop; total work is
    Σ_steps |frontier| with depth ≤ log₇(max key) (the same bounded-
    iteration argument as llm_dedup_clusters' connected components,
    which hand-rolls the loop the CTE now expresses declaratively).
    The start population is capped (HIER_START_CAP = 200) only to keep
    the witness small; the recursion itself is corpus-size-independent
    in depth. All arithmetic is exact integer cents.
    """
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_HIER_SQL)


# ---------------------------------------------------------------------------
# source_rowgroup_stats — parquet zone-map audit (declared metadata op)
# ---------------------------------------------------------------------------


@query("source_rowgroup_stats")
def source_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet row-group zone-map audit: per row group of
    lineitem.parquet — row count, l_orderkey min/max from the FOOTER
    statistics (no data pages read), and whether the groups are
    key-clustered (each group's min beyond the previous max — the
    property that makes min/max skipping effective).

    Declared rows-only (the 13th audit-family entry): the oracle SQL
    surface sees table VIEWS, not file paths, and row-group layout is
    not content-derivable — tests/test_seeds9_properties.py instead
    checks this output cell-for-cell against DuckDB's
    ``parquet_metadata()`` of the same file. Metadata-plane op: the
    driver reads ONLY the footer (pyarrow), the same operation a
    catalog service runs per shard to validate clustering before
    relying on skip-scans at 100 TB.
    """
    import pyarrow.parquet as pq

    schema_str = (
        "row_group int, n_rows bigint, min_orderkey bigint, "
        "max_orderkey bigint, clustered_after_prev int"
    )
    md = pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata
    if md.num_row_groups == 0:  # empty file: footer carries no groups
        return spark.createDataFrame([], schema_str)
    col_idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.row_group(0).num_columns)
    }["l_orderkey"]
    rows = []
    prev_max = None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        st = g.column(col_idx).statistics
        if st is None or st.min is None:  # 0-row group: no stats written
            rows.append((rg, g.num_rows, None, None, 1))
            continue
        clustered = int(prev_max is None or st.min > prev_max)
        rows.append((rg, g.num_rows, st.min, st.max, clustered))
        prev_max = st.max if prev_max is None else max(prev_max, st.max)
    return spark.createDataFrame(rows, schema_str)


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


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
# sql_natural_join — NATURAL JOIN surface
# ---------------------------------------------------------------------------


@query(
    "sql_natural_join",
    oracle="""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1
    """,
)
def sql_natural_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL JOIN surface: nations per region through column-name
    resolution instead of an explicit ON clause (the dims are aligned
    on a shared ``regionkey`` column in-query first — TPC-H prefixes
    differ by design, which is itself the cautionary half of this op's
    docstring: NATURAL JOIN silently keys on WHATEVER names coincide).

    Resolved at analysis into the ordinary equi-join — broadcast here
    (metadata-sized dims), identical physical plan to the explicit
    form the oracle writes.
    """
    n = load(spark, sf_dir, "nation").withColumnRenamed(
        "n_regionkey", "regionkey"
    )
    r = load(spark, sf_dir, "region").withColumnRenamed(
        "r_regionkey", "regionkey"
    )
    n.createOrReplaceTempView("nj_nation")
    r.createOrReplaceTempView("nj_region")
    return spark.sql(
        """
        SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM nj_nation NATURAL JOIN nj_region
        GROUP BY 1
        """
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


PARAM_TYPE = "purchase"
PARAM_MIN_VALUE = 50.0


# ---------------------------------------------------------------------------
# sql_named_parameters — parameterized SQL binding
# ---------------------------------------------------------------------------


@query(
    "sql_named_parameters",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events
    WHERE event_type = '{PARAM_TYPE}' AND value >= {PARAM_MIN_VALUE!r}
    GROUP BY 1
    """,
)
def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (`spark.sql(query, args={...})` —
    Spark 4's injection-safe parameter markers): the filter values
    arrive as ``:event_type`` / ``:min_value`` BINDINGS, never string
    interpolation — the API surface every multi-tenant query service
    needs (plan caching by query text, no quoting bugs, no SQL
    injection).

    Parameters fold to literals during analysis, so the physical plan
    (pushed filters included — the predicate reaches the parquet scan)
    is identical to the inlined query the oracle runs.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("np_events")
    return spark.sql(
        f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({_CENTS_SQL}) AS BIGINT)
                 AS cents
        FROM np_events
        WHERE event_type = :event_type AND value >= :min_value
        GROUP BY 1
        """,
        args={"event_type": PARAM_TYPE, "min_value": PARAM_MIN_VALUE},
    )


# ---------------------------------------------------------------------------
# df_observe_metrics — in-flight metric accumulators
# ---------------------------------------------------------------------------


@query(
    "df_observe_metrics",
    oracle=f"""
    SELECT 'n_rows' AS metric, CAST(COUNT(*) AS BIGINT) AS value
    FROM events
    UNION ALL
    SELECT 'cents_total', CAST(COALESCE(SUM({_CENTS_SQL}), 0) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'n_purchases',
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM events
    """,
)
def df_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe()` metric accumulators: row count, exact cent
    total, and purchase count collected AS A SIDE EFFECT of one pass
    (the production pattern: data-quality counters ride along with the
    real job instead of paying a second scan — at 100 TB the free
    metrics pass IS the feature).

    The observed map is materialized by a noop-sink write (nothing to
    the driver but the 3 metrics), then surfaced as the result rows the
    oracle recomputes with plain aggregates. Integer metrics only, so
    accumulator merge order is irrelevant.
    """
    from pyspark.sql import Observation

    e = load(spark, sf_dir, "events")
    obs = Observation("dq")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents_col(F.col("value"))).alias("cents_total"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    # empty input: SUM observes NULL (count observes 0) — normalize so
    # the metrics row set stays total (hypothesis/empty-sweep-proofed).
    rows = [
        ("n_rows", int(m["n_rows"] or 0)),
        ("cents_total", int(m["cents_total"] or 0)),
        ("n_purchases", int(m["n_purchases"] or 0)),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint")


# ---------------------------------------------------------------------------
# maint_cache_table — CACHE TABLE + InMemoryRelation read
# ---------------------------------------------------------------------------


@query(
    "maint_cache_table",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events GROUP BY 1
    """,
)
def maint_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`CACHE TABLE` surface: the events projection cached into the
    columnar in-memory store, the result computed FROM THE CACHE
    (tests pin InMemoryRelation in the second read's plan), then
    uncached — the hot-dimension / iterative-reuse layer every
    multi-pass pipeline (kmeans, CC, CUSUM-over-many-metrics) leans
    on.

    Cached or not, results must be identical — that is exactly what the
    oracle checks. UNCACHE in a finally block keeps the shared session
    clean for the other 246 queries (catalog hygiene, the
    join_bucketed_colocated rule).
    """
    e = load(spark, sf_dir, "events").select(
        "event_type", cents_col(F.col("value")).alias("c")
    )
    name = f"cache_t_{uuid.uuid4().hex[:8]}"
    e.createOrReplaceTempView(name)
    try:
        spark.sql(f"CACHE TABLE {name}_c AS SELECT * FROM {name}")
        out = spark.table(f"{name}_c").groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("cents"),
        )
        rows = out.collect()
    finally:
        spark.sql(f"UNCACHE TABLE IF EXISTS {name}_c")
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, "event_type string, n bigint, cents bigint")


PRUNE_YEAR = 1996


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
        f"""
        SELECT user_id,
               CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT) AS day,
               CAST(SUM({_CENTS_SQL}) AS BIGINT)
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
# df_transpose_surface — DataFrame.transpose API
# ---------------------------------------------------------------------------


@query(
    "df_transpose_surface",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(SUM({_CENTS_SQL}) AS VARCHAR) AS cents
      FROM events GROUP BY 1
    )
    SELECT 'cents' AS key,
           MAX(CASE WHEN event_type = 'click' THEN cents END) AS click,
           MAX(CASE WHEN event_type = 'error' THEN cents END) AS error,
           MAX(CASE WHEN event_type = 'purchase' THEN cents END) AS purchase,
           MAX(CASE WHEN event_type = 'signup' THEN cents END) AS signup,
           MAX(CASE WHEN event_type = 'view' THEN cents END) AS view
    FROM g
    """,
)
def df_transpose_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.transpose()` (new in Spark 4): the 5-row per-type
    cent-total frame flipped so types become COLUMNS — the
    report-orientation twin of pivot for frames already at their final
    (metadata-sized) grain.

    transpose() collects the frame to the driver by necessity (columns
    must be known to plan) — which is WHY the op transposes the 5-row
    AGGREGATE, never a fact table; that constraint is the docstring's
    scale lesson. Values stringify under transpose (heterogeneous
    columns in general), so the oracle emits the same varchar cells via
    conditional aggregation.
    """
    e = load(spark, sf_dir, "events")
    g = (
        e.groupBy("event_type")
        .agg(F.sum(cents_col(F.col("value"))).cast("string").alias("cents"))
        .orderBy("event_type")
    )
    t = g.transpose()
    return t


# ---------------------------------------------------------------------------
# sql_lateral_view_explode — Hive-legacy LATERAL VIEW syntax
# ---------------------------------------------------------------------------


@query(
    "sql_lateral_view_explode",
    oracle="""
    WITH t AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM t GROUP BY 1, 2
    """,
)
def sql_lateral_view_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-legacy ``LATERAL VIEW explode()`` syntax — the generator
    spelling a decade of production HiveQL is written in (the ANSI
    ``JOIN LATERAL`` and DataFrame ``explode()`` forms are covered by
    sql_lateral_topk / fn_array; a drop-in engine must parse all
    three): capped per-doc token multiplicities.

    Compiles to the identical Generate operator as the modern forms —
    syntax surface only, zero plan difference (doc_id < 50 keeps this
    tokenization twin of fn_array bounded rather than duplicating its
    full-corpus scan).
    """
    load(spark, sf_dir, "documents").createOrReplaceTempView("lv_documents")
    return spark.sql(
        """
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lv_documents
        LATERAL VIEW explode(split(text, ' ')) t AS token
        WHERE doc_id < 50
        GROUP BY doc_id, token
        """
    )


PYDS_N = 10_000
PYDS_PARTS = 8


@query(
    "source_python_datasource",
    oracle=f"""
    WITH s AS (
      SELECT UNNEST(GENERATE_SERIES(0, {PYDS_N - 1})) AS x
    )
    SELECT CAST(x % {PYDS_PARTS} AS INT) AS part,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(x * x) AS BIGINT) AS sum_sq
    FROM s GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DataSource (Spark 4 `pyspark.sql.datasource`): a
    from-scratch connector registered with
    ``spark.dataSource.register`` — schema declaration, PARTITION
    PLANNING (8 strided splits), and per-partition iterator reads —
    then aggregated per partition so every split's content is
    hash-checked against the closed-form oracle.

    This is the extension point for sources Spark lacks natively
    (internal APIs, bespoke formats): the reader contract mirrors DSv2
    — `partitions()` runs on the driver (plan-time metadata, like a
    catalog listing), `read(partition)` runs ON EXECUTORS in parallel,
    one task per split, so a 1000-split custom source scales exactly
    like a parquet scan (modulo the Python-worker row path; Arrow
    batch readers are the fast variant of the same API). The synthetic
    integer stream makes the oracle exact: each partition p must
    contribute precisely {{x ≡ p (mod 8)}}.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class StrideReader(DataSourceReader):
        def __init__(self, opts):
            self.n = int(opts.get("n", "10"))
            self.parts = int(opts.get("parts", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            i = partition.value
            for v in range(i, self.n, self.parts):
                yield (i, v, v * v)

    class StrideSource(DataSource):
        @classmethod
        def name(cls):
            return "engine_stride"

        def schema(self):
            return "part int, x bigint, x_sq bigint"

        def reader(self, schema):
            return StrideReader(self.options)

    spark.dataSource.register(StrideSource)
    df = (
        spark.read.format("engine_stride")
        .option("n", str(PYDS_N))
        .option("parts", str(PYDS_PARTS))
        .load()
    )
    return df.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("x_sq").cast("bigint").alias("sum_sq"),
    )


# ---------------------------------------------------------------------------
# sink_python_datasource — the WRITE side of the connector contract
# ---------------------------------------------------------------------------


@query(
    "sink_python_datasource",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS INT) AS files_match_partitions,
           CAST(1 AS INT) AS checksum_ok
    FROM events
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the custom Python DataSource contract
    (`DataSourceWriter`): events pushed through a from-scratch text
    sink — `write(iterator)` runs ONE TASK PER PARTITION on executors,
    each emitting its own file and a WriterCommitMessage (the
    two-phase-commit hook a transactional sink implements for real) —
    then the files are read back and the row count + exact cent
    checksum must survive the trip.

    With the reader twin (source_python_datasource) this closes the
    full connector loop: schema → partitions → parallel read AND
    partitioned write → commit. The audit row asserts 1..4 files (one
    per non-coalesced partition) plus exact count/checksum equality.
    Scratch dir removed afterwards.
    """
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class TextSinkWriter(DataSourceWriter):
        def __init__(self, opts):
            self.path = opts["path"]

        def write(self, it):
            out = os.path.join(
                self.path, f"part-{uuid.uuid4().hex}.csv"
            )
            with open(out, "w") as f:
                for row in it:
                    f.write(f"{row[0]},{row[1]}\n")
            return WriterCommitMessage()

    class TextSink(DataSource):
        @classmethod
        def name(cls):
            return "engine_textsink"

        def writer(self, schema, overwrite):
            return TextSinkWriter(self.options)

    spark.dataSource.register(TextSink)
    e = load(spark, sf_dir, "events").select(
        "event_id", cents_col(F.col("value")).alias("c")
    )
    base = e.agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    ).collect()[0]
    tmp = tempfile.mkdtemp(prefix="pysink_")
    try:
        n_parts = 4
        (
            e.repartition(n_parts)
            .write.format("engine_textsink")
            .option("path", tmp)
            .mode("append")
            .save()
        )
        files = glob.glob(os.path.join(tmp, "part-*.csv"))
        back = (
            spark.read.schema("event_id long, c long").csv(tmp)
            if files
            else spark.createDataFrame([], "event_id long, c long")
        )
        chk = back.agg(
            F.count("*").alias("n"), F.sum("c").alias("s")
        ).collect()[0]
        # one write() task per partition; AQE may coalesce empties, so
        # the stable invariant is 1..n_parts files when rows exist.
        ok_files = int(
            len(files) <= n_parts
            and (int(base["n"]) == 0 or len(files) >= 1)
        )
        rows = [
            (
                int(chk["n"]),
                ok_files,
                int(
                    chk["n"] == base["n"]
                    and (chk["s"] or 0) == (base["s"] or 0)
                ),
            )
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "n_rows bigint, files_match_partitions int, checksum_ok int"
    )


Z_BITS = 10  # Morton bits per dimension
Z_FILE_ROWS = 1000  # records per physical file / logical bucket


# ---------------------------------------------------------------------------
# sink_zorder_layout — Morton-interleaved multi-dimension clustering
# ---------------------------------------------------------------------------


def _morton_sql(u: str, d: str) -> str:
    """DuckDB spelling: shift OPERATORS (no shiftright function)."""
    return " + ".join(
        f"(((({u} >> {k}) & 1) << {2 * k}) + ((({d} >> {k}) & 1) << {2 * k + 1}))"
        for k in range(Z_BITS)
    )


def _morton_spark(u: str, d: str) -> str:
    """Spark spelling: shiftleft/shiftright FUNCTIONS + & operator —
    identical integer arithmetic, two dialects."""
    return " + ".join(
        f"(shiftleft(shiftright({u}, {k}) & 1, {2 * k})"
        f" + shiftleft(shiftright({d}, {k}) & 1, {2 * k + 1}))"
        for k in range(Z_BITS)
    )


@query(
    "sink_zorder_layout",
    oracle=f"""
    WITH c AS (
      SELECT user_id,
             {_DAY_SQL} % 1024 AS day_k,
             user_id % 1024 AS user_k,
             event_id
      FROM events
    ), m AS (
      SELECT user_k, day_k,
             {_morton_sql("user_k", "day_k")} AS morton,
             event_id
      FROM c
    ), b AS (
      SELECT user_k, day_k,
             CAST((ROW_NUMBER() OVER (ORDER BY morton, event_id) - 1)
                  // {Z_FILE_ROWS} AS BIGINT) AS bucket
      FROM m
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(user_k) - MIN(user_k) AS BIGINT) AS user_span,
           CAST(MAX(day_k) - MIN(day_k) AS BIGINT) AS day_span
    FROM b GROUP BY 1
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multi-dimensional clustering audit: events laid
    out along the BIT-INTERLEAVED (user, day) key and cut into
    fixed-size buckets — per bucket, the min/max SPAN of BOTH
    dimensions, which is precisely what parquet zone-maps would skip
    on. A linear (single-column) sort gives tight spans in one
    dimension and full-range spans in the other; Morton order bounds
    BOTH — the reason Delta/Iceberg OPTIMIZE ZORDER exists, built here
    from plain bit arithmetic.

    The interleave is a 10-bit-per-dimension unrolled shift/mask
    expression — identical integer arithmetic on both engines — and
    bucket cuts are row_number over the unique (morton, event_id)
    order, so the audit is bit-stable. The physical-write twin
    (sortWithinPartitions(morton) + maxRecordsPerFile) produces files
    that ARE these buckets; the logical form keeps the audit
    side-effect-free and oracle-checkable.
    """
    e = load(spark, sf_dir, "events")
    c = e.select(
        (F.col("user_id") % 1024).alias("user_k"),
        (
            day_col() % 1024
        ).alias("day_k"),
        "event_id",
    )
    m = c.select(
        "user_k",
        "day_k",
        F.expr(_morton_spark("user_k", "day_k")).alias("morton"),
        "event_id",
    )
    b = m.select(
        "user_k",
        "day_k",
        F.floor(
            (F.row_number().over(W.orderBy("morton", "event_id")) - 1)
            / Z_FILE_ROWS
        )
        .cast("bigint")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.max("user_k") - F.min("user_k")).cast("bigint").alias("user_span"),
        (F.max("day_k") - F.min("day_k")).cast("bigint").alias("day_span"),
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
# sql_exists_subquery / sql_scalar_subquery — correlated subqueries
# ---------------------------------------------------------------------------

# The mean folds exact integer cents (r10 quantization audit):
# SUM(BIGINT)/COUNT, not AVG — same rationale as _SCALAR_SQL below.
# BIGINT headroom: ≤1e6 cents × ~1.5e9 customers ≈ 1.5e15 « 2^63.
_EXISTS_SQL = """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT))
                 / COUNT(c.c_acctbal) / 100.0, 2) AS avg_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F')
    GROUP BY c.c_mktsegment
"""


@query("sql_exists_subquery", oracle=_EXISTS_SQL)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS via the SQL entry point: segments
    of customers with ≥1 urgent order and no completed ('F') order.

    The same SQL string runs on both engines. Catalyst decorrelates the
    two subqueries into a left-semi and a left-anti join on c_custkey —
    no per-row re-execution — so at scale this is two hash joins against
    a pre-filtered orders projection, each pushdown-pruned to the two
    columns the subquery touches.
    """
    for t in ("customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(portable_round_sql(_EXISTS_SQL))


# The correlated aggregate averages EXACT INTEGER CENTS, not doubles:
# AVG(double) folds the group in arbitrary order and the accumulated
# half-ulp drift flips the 2-decimal rounding with input row order
# (caught by tests/test_row_order.py at sf0.01 — cust_avg flapped
# 148099.75↔.76 between shuffled and canonical fixtures). The mean is
# therefore SUM(BIGINT cents) / COUNT — the sum is exact on both
# engines (Spark LONG, DuckDB HUGEINT) at ANY accumulation order, with
# the IEEE divisions deferred to the very end. NOT AVG(BIGINT): Spark's
# Average keeps a DOUBLE sum buffer for non-decimal inputs, so past
# 2^53 accumulated cents (~1.8e8 orders on one hot customer at 100 TB
# skew) the quantized AVG would go order-dependent again (ADVICE r8).
# COUNT(o2.o_totalprice) matches AVG's NULL-skipping and is >= 1 for
# every surviving outer row (the outer order itself is in the group).
_SCALAR_SQL = """
    SELECT o.o_orderkey, o.o_custkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND((SELECT SUM(CAST(FLOOR(o2.o_totalprice * 100 + 0.5)
                                  AS BIGINT))
                         / COUNT(o2.o_totalprice) / 100.0 FROM orders o2
                  WHERE o2.o_custkey = o.o_custkey), 2) AS cust_avg
    FROM orders o
    WHERE o.o_totalprice >
          1.5 * (SELECT SUM(CAST(FLOOR(o2.o_totalprice * 100 + 0.5)
                                 AS BIGINT))
                        / COUNT(o2.o_totalprice) / 100.0 FROM orders o2
                 WHERE o2.o_custkey = o.o_custkey)
"""


@query("sql_scalar_subquery", oracle=_SCALAR_SQL)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via the SQL entry point: orders priced
    >1.5× their customer's average order value.

    Catalyst rewrites the correlated aggregate into one per-customer
    aggregation joined back to orders (the subquery body is evaluated
    once, not per outer row), so the plan is aggregate + self-join on
    o_custkey — a single reusable shuffle partitioning at scale.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(portable_round_sql(_SCALAR_SQL))


def _avro_datasource_available(spark: SparkSession) -> bool:
    """Explicit probe for the avro DataSource registration.

    spark-avro has been an EXTERNAL module since Spark 2.4 — clusters
    add it via ``--packages org.apache.spark:spark-avro``. The probe
    asks Spark's own provider lookup (the exact resolution ``.format(
    "avro")`` uses, ServiceLoader + short-name mapping) whether "avro"
    resolves, so it cannot drift from what a write would do, and it
    never depends on an error-message substring (ADVICE r4: message
    text is brittle across Spark versions).
    """
    try:
        jvm = spark._jvm
        jspark = spark._jsparkSession
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", jspark.sessionState().conf()
        )
        return True
    except Exception:
        return False


def _write_roundtrip_format(df: DataFrame, out: str) -> str:
    """Write ``df`` as Avro, falling back to ORC when the datasource is
    absent; returns the format actually used.

    When the probe reports avro missing (this container: no external
    spark-avro module), the SAME writer contract runs against ORC and
    the substitution is flagged loudly in the returned ``format``
    column — i.e. in that environment the avro datasource path itself
    is an UNTESTED surface (documented in SURVEY §2.L), not a silently
    claimed completion; on any cluster with spark-avro on the classpath
    this exercises real avro I/O with no code change.
    """
    fmt = "avro" if _avro_datasource_available(df.sparkSession) else "orc"
    df.write.mode("overwrite").format(fmt).save(out)
    return fmt


@query("source_avro_roundtrip")
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink roundtrip, completing the I/O surface next to
    CSV/JSON/ORC/text: write a per-nation aggregate, read it back, and
    return the verified read-back (rows-only driver check, like the
    other roundtrips — the format under test is not SQL-expressible to
    DuckDB).

    Avro maps timestamps to long micros and doubles/strings natively,
    so the aggregate covers those types. Where the external spark-avro
    module is absent (this container), the SAME writer contract runs
    against ORC and the gate is documented loudly in the returned
    ``format`` column — the query never silently skips verification.
    """
    agg = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            pround(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )
    out = SCRATCH / f"avro_{uuid.uuid4().hex}"
    fmt = _write_roundtrip_format(agg, str(out))
    back = spark.read.format(fmt).load(str(out)).select(
        "c_nationkey", "n_customers", "sum_acctbal"
    )
    return roundtrip_verified(agg, back).withColumn("format", F.lit(fmt))


@query(
    "source_text_roundtrip",
    oracle="""
    SELECT SUBSTRING(text, 1, 1) AS first_char,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
    FROM documents
    WHERE text IS NOT NULL
      AND STRPOS(text, CHR(10)) = 0
      AND STRPOS(text, CHR(13)) = 0
    GROUP BY 1
    """,
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text write→read roundtrip (SURVEY.md §2.A family).

    Oracled since r6 (was rows-only): the per-first-char audit of the
    read-back lines must hash-match DuckDB's same aggregate on the
    source rows under the identical representability filter — both
    engines count Unicode code points (Spark ``length`` ≡ DuckDB
    ``LENGTH``), so the compare verifies the UTF-8 write→read chain.

    ``spark.read.text`` is the raw-corpus ingestion path an LLM pipeline
    starts from (one line = one record, schema = a single ``value``
    string). Documents' text is single-line in the fixtures, so the
    write→read is lossless; the content assertion compares the full
    line multisets, and the returned audit aggregate (per-first-char
    line counts + total chars) keeps the driver-side result small and
    stable.
    """
    out = SCRATCH / f"text_{uuid.uuid4().hex}"
    # The line-oriented text format CANNOT represent NULL (serializes
    # as an empty line, reads back as "") or EMBEDDED NEWLINES (one
    # line = one record by definition: a 2-line text reads back as two
    # rows) — filter both before the write, the contract every text
    # exporter enforces; the roundtrip assert then guards exactly the
    # representable rows. Both cases found by the nulls/adversarial
    # twin sweeps, where the assert correctly reported lost rows.
    lines = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & ~F.col("text").contains("\n")
            & ~F.col("text").contains("\r")
        )
        .select(F.col("text").alias("value"))
    )
    try:
        lines.write.mode("overwrite").text(str(out))
        back = spark.read.text(str(out))
        audit = (
            roundtrip_verified_big(lines, back)
            .groupBy(F.substring("value", 1, 1).alias("first_char"))
            .agg(
                F.count("*").alias("n_lines"),
                F.sum(F.length("value")).alias("n_chars"),
            )
            .orderBy("first_char")
        )
        # Force before the scratch dir is removed: the plan reads `out`.
        return audit.sparkSession.createDataFrame(
            audit.collect(), schema=audit.schema
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
