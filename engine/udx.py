"""User-defined function surface (SURVEY.md §2.K): plain Python UDF,
vectorized pandas UDFs (scalar + grouped-agg), applyInPandas grouped-map,
mapInPandas, and a Python UDTF (Spark 4).

UDFs are the engine's slow path by design (SURVEY.md: "UDFs are the slow
path"): everything expressible with built-ins elsewhere stays JVM-side;
this module exists to prove the full Python-boundary surface with
Arrow-batched transfer. Every UDF body is pure and SQL-mirrorable so the
DuckDB oracle checks semantics (SURVEY.md §7.6.6).

At 100 TB: pandas UDFs stream Arrow record batches per partition —
no per-row pickling, state bounded by batch size
(spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from engine.det import _CENTS_SQL, cents_col, pround
from engine.registry import query
from engine.session import load


def _np_round4(x: pd.Series) -> pd.Series:
    """The portable round (engine.det) in numpy: identical IEEE ops."""
    return np.floor(x * 10_000 + 0.5) / 10_000


@query(
    "udf_python_scalar",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS band
    FROM orders
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain row-at-a-time Python UDF: price band label
    (SURVEY.md §2.K udf_python_scalar). The logic is SQL-expressible by
    design so the oracle checks semantics; production code would use
    CASE WHEN (JVM-side) — this exercises the pickled-row UDF path."""

    @udf("string")
    def band(total: float) -> str:
        if total < 100_000:
            return "low"
        if total < 300_000:
            return "mid"
        return "high"

    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 2) AS disc_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF over Arrow batches: discounted price
    (SURVEY.md §2.K udf_pandas_scalar)."""

    @pandas_udf("double")
    def disc_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1 - discount)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pround(disc_price("l_extendedprice", "l_discount"), 2).alias("disc_price"),
    )


@query(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT c_mktsegment,
           ROUND(MAX(c_acctbal)
                 - SUM(FLOOR(c_acctbal * 100 + 0.5))
                   / COUNT(c_acctbal) / 100.0, 4) AS demeaned_max
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas UDAF (Series → scalar) in groupBy().agg()
    (SURVEY.md §2.K udf_pandas_grouped_agg): per-segment demeaned max.

    The mean folds exact integer cents (r10 quantization audit): the
    pandas group arrives in shuffle order, so a raw double .mean() is
    order-dependent at scale; integer-valued float additions are exact
    at any order until 2^53, and both engines run the same SUM/COUNT
    division chain. MAX is an order-independent selection.
    """

    @pandas_udf("double")
    def demeaned_max(bal: pd.Series) -> float:
        cents = np.floor(bal * 100 + 0.5)
        return float(bal.max() - cents.sum() / bal.count() / 100.0)

    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        pround(demeaned_max("c_acctbal"), 4).alias("demeaned_max")
    )


@query(
    "udf_apply_in_pandas",
    oracle="""
    SELECT event_id, user_id,
           ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 4) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score normalize event values per user
    (SURVEY.md §2.K udf_apply_in_pandas).

    Rounding happens inside the pandas body with the same portable
    floor-formula as engine.det (numpy doubles are IEEE, so both sides
    round identically); single-event users yield NULL (stddev_samp of a
    1-row group is NULL in SQL, NaN→None here).

    r10 quantization audit: CLEARED, not converted — the z-score's
    σ is a sqrt of a second moment that has no lossless integer form
    (and z is scale-invariant, so quantizing the input cannot remove
    the moment's own double fold). Drift bound: per-user groups are
    activity-bounded, giving n·eps·|Σ| many orders below the 1e-4
    output grain; the multi-seed row-order soak (BASELINE.md r10)
    backs this empirically.

    The input is PROJECTED to the three consumed columns before the
    groupBy: Spark cannot prune columns through applyInPandas (the
    grouped-map UDF receives every input column), so without the
    select the full row — ts, event_type, the props JSON — round-trips
    through Arrow into pandas for a 3-column computation: wasted
    serialization bandwidth at any scale, and a crash with sentinel
    dates (the grouped-map path coerces timestamp[us] → [ns], which
    overflows past year 2262 — the 9999-12-31 'no end date' sentinel
    aborted here; tests/test_sentinel_timestamps.py).
    """

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        # numpy throughout (r14): the grouped-map surface calls this once
        # per user group, so per-call pandas overhead multiplies by the
        # group count. ddof=1 + the explicit n>1 guard reproduces
        # STDDEV_SAMP exactly (NaN for 1-row groups); NaN rides the
        # float64 column out and becomes SQL NULL in the JVM projection
        # below — the old per-group astype(object).where(...) built an
        # object array per group just to hand Arrow a null mask, the
        # single biggest per-group cost in this op (measured).
        v = pdf["value"].to_numpy(dtype=np.float64)
        valid = v[~np.isnan(v)]  # pandas std/mean skip NaN (SQL semantics)
        if len(valid) > 1:
            std = valid.std(ddof=1)
            z = _np_round4((v - valid.mean()) / std)
        else:
            z = np.full(len(v), np.nan)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "z": z,
            }
        )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = ev.groupBy("user_id").applyInPandas(
        zscore, schema="event_id long, user_id long, z double"
    )
    # NaN → NULL once, vectorized, JVM-side (same contract as before:
    # every NaN this body can produce — 1-row groups, NULL inputs — was
    # mapped to None in-Python previously).
    return out.select(
        "event_id",
        "user_id",
        F.when(F.isnan("z"), F.lit(None)).otherwise(F.col("z")).alias("z"),
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT event_id, user_id, value * 2 AS v2
    FROM events
    WHERE value > 100
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise mapInPandas filter+project over Arrow batch
    iterators (SURVEY.md §2.K udf_map_in_pandas). Input projected to
    the consumed columns first — Spark cannot prune columns through
    the opaque Python function, so without the select every events
    byte (ts, event_type, props) rides the Arrow channel for nothing
    (same waste udf_apply_in_pandas had; see its docstring)."""

    def flt(batches):
        for pdf in batches:
            keep = pdf[pdf["value"] > 100]
            yield pd.DataFrame(
                {
                    "event_id": keep["event_id"],
                    "user_id": keep["user_id"],
                    "v2": keep["value"] * 2,
                }
            )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return ev.mapInPandas(flt, schema="event_id long, user_id long, v2 double")


@query(
    "udtf_python",
    oracle="""
    SELECT doc_id,
           UNNEST(STRING_SPLIT(text, ' ')) AS token,
           UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')))) - 1 AS pos
    FROM documents
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): explode text into (doc_id, token, pos) via
    LATERAL join (SURVEY.md §2.K udtf_python). Oracle uses DuckDB's
    positional zip of parallel UNNESTs (no WITH ORDINALITY in 1.0)."""

    @udtf(returnType="token string, pos int")
    class SplitTokens:
        def eval(self, text):
            # NULL text → zero output rows, matching what UNNEST of a
            # NULL split yields in the oracle (nulls-twin sweep).
            if text is None:
                return
            for i, tkn in enumerate(text.split(" ")):
                yield tkn, i

    spark.udtf.register("split_tokens", SplitTokens)
    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.token, s.pos
        FROM udtf_docs d, LATERAL split_tokens(d.text) s
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


@query(
    "udf_map_in_arrow",
    oracle="""
    WITH e AS (
      SELECT vec_id, UNNEST(embedding) AS x FROM embeddings
    )
    SELECT vec_id,
           CAST(COUNT(*) AS INT) AS dim,
           ROUND(SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)
             AS l2_norm,
           ROUND(MAX(ABS(CAST(x AS DOUBLE))), 4) AS max_abs
    FROM e GROUP BY vec_id
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInArrow`` API surface (SURVEY.md §2.K family): per-batch
    zero-copy Arrow RecordBatch processing — one step lower-level than
    the pandas UDFs, no pandas conversion cost, the right entry point
    for Arrow-native libraries (polars, vector codecs, tokenizers).

    Computes per-embedding dim / L2 norm / max-|x| in numpy f64 from
    the Arrow FixedSizeList buffer. Map-only (no shuffle); batch size
    is governed by spark.sql.execution.arrow.maxRecordsPerBatch, so
    executor memory stays bounded at any corpus size.
    """
    import numpy as np
    import pyarrow as pa

    def batch_norms(it):
        for rb in it:
            tbl = pa.table(rb)
            ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
            flat = np.stack(tbl.column("embedding").to_pylist()).astype(
                np.float64
            )
            l2 = np.sqrt((flat * flat).sum(axis=1))
            mx = np.abs(flat).max(axis=1)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(ids, type=pa.int64()),
                    "dim": pa.array(
                        np.full(len(ids), flat.shape[1], dtype=np.int32)
                    ),
                    "l2_norm": pa.array(
                        np.floor(l2 * 10_000 + 0.5) / 10_000
                    ),
                    "max_abs": pa.array(
                        np.floor(mx * 10_000 + 0.5) / 10_000
                    ),
                }
            )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(
        batch_norms, schema="vec_id long, dim int, l2_norm double, max_abs double"
    )


@query(
    "udf_cogroup_pandas",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens
      FROM documents
    ), e AS (
      SELECT vec_id,
             LIST_SUM(LIST_TRANSFORM(embedding,
                                     x -> CAST(x AS DOUBLE)
                                          * CAST(x AS DOUBLE))) AS sq
      FROM embeddings
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(d.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(SQRT(e.sq)), 4) AS avg_l2_norm
    FROM d JOIN e ON d.doc_id = e.vec_id
    GROUP BY d.lang
    """,
)
def udf_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped-map API surface (SURVEY.md §2.K family):
    ``groupBy().cogroup().applyInPandas`` aligns two tables' groups —
    here documents and their embeddings bucketed by a shard of the join
    key — and hands each aligned pair of pandas frames to one Python
    function, which joins them in-memory and emits per-language stats.

    This is the API for custom two-sided group logic that a SQL join
    can't express (asymmetric resampling, per-group model scoring);
    the function body here is a plain merge + aggregate precisely so a
    SQL oracle can verify the plumbing end-to-end. Both sides shuffle
    once on the same shard key — co-partitioned, no broadcast.
    """
    import numpy as np
    import pandas as pd

    d = (
        load(spark, sf_dir, "documents")
        .withColumn("shard", (F.col("doc_id") % 16).cast("int"))
        .select(
            "shard",
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
    )
    e = (
        load(spark, sf_dir, "embeddings")
        .withColumn("shard", (F.col("vec_id") % 16).cast("int"))
        .select("shard", "vec_id", "embedding")
    )

    def join_stats(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                columns=["lang", "n_pairs", "total_tokens", "sum_norm"]
            )
        mat = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        right = right.assign(l2=np.sqrt((mat * mat).sum(axis=1)))
        m = left.merge(
            right[["vec_id", "l2"]], left_on="doc_id", right_on="vec_id"
        )
        g = m.groupby("lang", as_index=False).agg(
            n_pairs=("doc_id", "size"),
            total_tokens=("n_tokens", "sum"),
            sum_norm=("l2", "sum"),
        )
        return g[["lang", "n_pairs", "total_tokens", "sum_norm"]]

    per_shard = (
        d.groupBy("shard")
        .cogroup(e.groupBy("shard"))
        .applyInPandas(
            join_stats,
            schema="lang string, n_pairs long,"
            " total_tokens long, sum_norm double",
        )
    )
    # Shard-partial stats → final per-language aggregate (map-side
    # partials, exactly like any two-phase agg).
    return per_shard.groupBy("lang").agg(
        F.sum("n_pairs").cast("bigint").alias("n_pairs"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        pround(F.sum("sum_norm") / F.sum("n_pairs"), 4).alias("avg_l2_norm"),
    )
