"""Round-18 seed operators — Arrow-native grouped UDx
(`applyInArrow`), the DataFrame.transpose API, Hive-legacy LATERAL
VIEW, and null-preserving explode_outer semantics — 4 operators, all
oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, cents_col
from engine.registry import query
from engine.session import load


# ---------------------------------------------------------------------------
# udf_apply_in_arrow — Arrow-native grouped-map UDx
# ---------------------------------------------------------------------------


@query(
    "udf_apply_in_arrow",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents,
           CAST(MAX({_CENTS_SQL}) - MIN({_CENTS_SQL}) AS BIGINT)
             AS cents_range
    FROM events GROUP BY 1
    """,
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE grouped map (`groupBy().applyInArrow` — Spark 4):
    each user's partition arrives as a ``pyarrow.Table`` and the count/
    sum/range stats are computed with pyarrow.compute kernels — no
    pandas materialization at all, completing the declared Python eval
    matrix (pickled UDF → pandas UDF → Arrow UDF → applyInPandas →
    mapInArrow → applyInArrow).

    For columnar-kernel workloads this skips applyInPandas' Arrow→
    pandas conversion entirely (zero-copy into pc.sum/pc.min_max).
    Integer-cent arithmetic keeps the oracle comparison exact; same
    declared-slow-path rules as the rest of engine/udx.py — the oracle
    shows the JVM-side equivalent.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    e = load(spark, sf_dir, "events").select(
        "user_id", cents_col(F.col("value")).alias("c")
    )

    def stats(tbl: pa.Table) -> pa.Table:
        c = tbl.column("c")
        mm = pc.min_max(c).as_py()
        # all-NULL group: min_max/sum are None — emit NULL stats like
        # SQL's MAX-MIN/SUM would, not a worker TypeError (null-twin
        # sweep); arrays explicitly int64 so the NULL row keeps the
        # declared schema.
        rng = None if mm["min"] is None else mm["max"] - mm["min"]
        return pa.table(
            {
                "user_id": pa.array(
                    [tbl.column("user_id")[0].as_py()], pa.int64()
                ),
                "n": pa.array([tbl.num_rows], pa.int64()),
                "cents": pa.array([pc.sum(c).as_py()], pa.int64()),
                "cents_range": pa.array([rng], pa.int64()),
            }
        )

    return e.groupBy("user_id").applyInArrow(
        stats, schema="user_id long, n long, cents long, cents_range long"
    )


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


# ---------------------------------------------------------------------------
# fn_explode_outer — null-preserving generator semantics
# ---------------------------------------------------------------------------


@query(
    "fn_explode_outer",
    oracle="""
    WITH d AS (
      SELECT ROW_NUMBER() OVER () AS rid, doc_id,
             CASE WHEN doc_id % 3 = 0 THEN []
                  ELSE STRING_SPLIT(SUBSTRING(text, 1, 20), ' ') END AS arr
      FROM documents
    )
    SELECT d.doc_id, u.tok, CAST(1 AS BIGINT) AS marker
    FROM d LEFT JOIN (
      SELECT rid, UNNEST(arr) AS tok FROM d
    ) u USING (rid)
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` semantics: rows with EMPTY arrays survive the
    explode as a single NULL-token row (plain explode silently drops
    them — the classic row-loss bug when a pipeline explodes optional
    attachments/labels). Every third document's array is emptied to
    manufacture the case the fixtures don't contain (the
    agg_melt_nulls trick).

    The oracle builds the same null-preserving semantics with a LEFT
    JOIN against the UNNEST (DuckDB's unnest drops empties too — the
    join-back IS the portable spelling), keyed on a synthetic
    ROW_NUMBER rid rather than doc_id: explode_outer is strictly
    PER-ROW, and a doc_id-keyed join-back silently fans out across
    rows sharing a duplicated id (caught by the duplicate-keys exact
    sweep, tests/test_duplicate_rows.py). Same Generate operator,
    outer flag set; row counts prove no document vanishes.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.array().cast("array<string>"))
        .otherwise(F.split(F.substring("text", 1, 20), " "))
        .alias("arr"),
    )
    return d.select(
        "doc_id",
        F.explode_outer("arr").alias("tok"),
        F.lit(1).cast("bigint").alias("marker"),
    )
