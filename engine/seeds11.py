"""Round-11 seed operators — native linear-regression aggregates,
median()/mode() SQL syntax, an AES encryption roundtrip audit, NATURAL
JOIN, the Spark 4 Arrow-optimized Python UDF eval path, and a 2-D
seasonality histogram — 6 operators, all oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, cents_col, pround
from engine.registry import query
from engine.session import load


AES_KEY = "0123456789abcdef"  # fixture-grade static key: the op audits
# the encrypt→decrypt ROUNDTRIP, not key management.


# ---------------------------------------------------------------------------
# agg_regr_family — native REGR_* aggregate surface
# ---------------------------------------------------------------------------


@query(
    "agg_regr_family",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x,
             CAST({_CENTS_SQL} AS DOUBLE) / 100 AS y
      FROM events
    )
    SELECT event_type,
           CAST(REGR_COUNT(y, x) AS BIGINT) AS n,
           ROUND(REGR_SLOPE(y, x), 4) AS slope,
           ROUND(REGR_INTERCEPT(y, x), 4) AS intercept,
           ROUND(REGR_R2(y, x), 6) AS r2,
           ROUND(REGR_AVGX(y, x), 4) AS avg_x,
           ROUND(REGR_AVGY(y, x), 4) AS avg_y
    FROM c GROUP BY 1
    """,
)
def agg_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native linear-regression aggregate surface (`regr_slope` /
    `regr_intercept` / `regr_r2` / `regr_count` / `regr_avgx/y` — the
    SQL-standard OLS family both engines implement): value-vs-hour
    regression per event type, the one-pass trendline behind
    'does spend drift across the day'.

    Both engines accumulate the same five moments map-side (n, Σx, Σy,
    Σxy, Σx²) — single shuffle of a 5-row state per type. Outputs are
    rounded per §7.5 (the internal double accumulation is
    order-dependent at the ulp level — the zscore-family convention;
    llm_zipf_slope's hand-rolled closed form is the bit-stable
    alternative shape). Cross-checks seeds6's agg_corr_matrix: r² here
    must equal corr² there.
    """
    e = load(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.hour("ts").cast("double").alias("x"),
        (cents_col(F.col("value")).cast("double") / 100).alias("y"),
    )
    return c.groupBy("event_type").agg(
        F.regr_count("y", "x").cast("bigint").alias("n"),
        pround(F.regr_slope("y", "x"), 4).alias("slope"),
        pround(F.regr_intercept("y", "x"), 4).alias("intercept"),
        pround(F.regr_r2("y", "x"), 6).alias("r2"),
        pround(F.regr_avgx("y", "x"), 4).alias("avg_x"),
        pround(F.regr_avgy("y", "x"), 4).alias("avg_y"),
    )


# ---------------------------------------------------------------------------
# agg_median_mode_syntax — median()/mode() aggregate syntax
# ---------------------------------------------------------------------------


@query(
    "agg_median_mode_syntax",
    oracle=f"""
    WITH c AS (SELECT event_type, {_CENTS_SQL} AS c FROM events)
    SELECT event_type,
           ROUND(MEDIAN(c), 4) AS median_c,
           CAST(MIN(mode_c) AS BIGINT) AS mode_c
    FROM c JOIN (
      SELECT event_type AS et2, MIN(c) AS mode_c FROM (
        SELECT event_type, c, COUNT(*) AS f,
               MAX(COUNT(*)) OVER (PARTITION BY event_type) AS mf
        FROM c GROUP BY event_type, c
      ) WHERE f = mf GROUP BY 1
    ) m ON m.et2 = c.event_type
    GROUP BY 1
    """,
)
def agg_median_mode_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`median()` and `mode()` aggregate SYNTAX surface (Spark 3.4+/4):
    per-type exact interpolated median of integer cents plus a
    deterministic mode.

    median() ≡ percentile(x, 0.5) (agg_percentile proved the DuckDB
    QUANTILE_CONT mapping; halves on integer cents are exact). mode()
    is tie-ambiguous BY SPEC on both engines, so the op pins the
    deterministic variant — Spark's mode(col, false) has
    implementation-defined tie order, and DuckDB's mode picks its own;
    both sides therefore compute min-of-maximal-frequency explicitly
    (Spark via the same window formulation the oracle uses — the
    engine.analytics_ops agg_mode rule), keeping the surface honest
    AND hashable.
    """
    e = load(spark, sf_dir, "events")
    c = e.select("event_type", cents_col(F.col("value")).alias("c"))
    med = c.groupBy("event_type").agg(
        pround(F.median("c"), 4).alias("median_c")
    )
    from pyspark.sql import Window as W

    freq = c.groupBy("event_type", "c").agg(F.count("*").alias("f"))
    mf = freq.select(
        "event_type",
        "c",
        "f",
        F.max("f").over(W.partitionBy("event_type")).alias("mf"),
    )
    mode = (
        mf.filter(F.col("f") == F.col("mf"))
        .groupBy("event_type")
        .agg(F.min("c").cast("bigint").alias("mode_c"))
    )
    return med.join(mode, "event_type")


# ---------------------------------------------------------------------------
# fn_aes_roundtrip — AES encryption surface audit
# ---------------------------------------------------------------------------


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok
    FROM documents GROUP BY 1
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES column-encryption surface (`aes_encrypt`/`aes_decrypt` —
    the at-rest PII-column pattern): every document text encrypted and
    decrypted back, counting exact byte-level roundtrips per language;
    the oracle pins n_roundtrip_ok == n_docs, so a single mangled byte
    anywhere fails the hash.

    The ciphertext itself is NONDETERMINISTIC (random IV per call —
    exactly what you want operationally) and therefore never leaves
    the plan; only the roundtrip invariant is surfaced, which is the
    honest checkable contract. JVM-side GCM, map-only, no shuffle
    before the final per-lang count.
    """
    d = load(spark, sf_dir, "documents")
    decrypted = F.aes_decrypt(
        F.aes_encrypt(F.col("text").cast("binary"), F.lit(AES_KEY)),
        F.lit(AES_KEY),
    ).cast("string")
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(decrypted == F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip_ok"),
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
# udf_arrow_scalar — Spark 4 Arrow-optimized Python UDF eval path
# ---------------------------------------------------------------------------


@query(
    "udf_arrow_scalar",
    oracle=f"""
    SELECT event_type,
           CAST(SUM(({_CENTS_SQL} * 2 + 1) % 997) AS BIGINT) AS chk
    FROM events GROUP BY 1
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`udf(..., useArrow=True)` — Spark
    4's third Python eval path next to pickled row-at-a-time UDFs and
    pandas UDFs): a scalar integer transform pushed through Arrow
    batches, aggregated to a per-type checksum the oracle recomputes in
    SQL.

    Same declared-slow-path rules as engine/udx.py: this op EXISTS to
    pin the eval surface (ArrowEvalPython in the plan), not to
    advocate Python for arithmetic — the oracle demonstrates the
    JVM-side equivalent. Arrow batching amortizes serialization ~10×
    vs the pickled path for this shape; integer math keeps the
    checksum exact.
    """
    e = load(spark, sf_dir, "events")

    @F.udf("long", useArrow=True)
    def arrow_chk(c):
        # NULL-safe: value can be NULL upstream (nulls-twin sweep) —
        # a Python UDF receives None and must hand NULL back, the same
        # contract the JVM expression it mirrors honors for free.
        return None if c is None else (c * 2 + 1) % 997

    return e.select(
        "event_type", arrow_chk(cents_col(F.col("value"))).alias("v")
    ).groupBy("event_type").agg(F.sum("v").cast("bigint").alias("chk"))


# ---------------------------------------------------------------------------
# agg_histogram_2d — hour × day-of-week seasonality grid
# ---------------------------------------------------------------------------


@query(
    "agg_histogram_2d",
    oracle=f"""
    SELECT CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D activity histogram: the hour-of-day × ISO-day-of-week count
    and value grid — the heatmap behind load shaping and anomaly
    baselines, and the 2-D companion of ts_seasonal_decompose's 1-D
    effects.

    At most a 7×24 = 168-cell result at ANY corpus size: one
    map-combined aggregation where nearly all reduction happens before
    the shuffle — the canonical 'aggregate early' shape. ISO weekday
    (Mon=1) chosen because Spark's dayofweek() is Sunday-based while
    DuckDB's isodow is Monday-based; weekday()+1 aligns them.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
            cents_col(F.col("value")).alias("c"),
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").cast("bigint").alias("cents"),
        )
    )
