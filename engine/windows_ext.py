"""Window extension: RANGE (value-based) frames — the one frame type
the core windows module (SURVEY.md §2.E) doesn't exercise. Registered
AFTER the proven families (round-4 correctness-window seed; see
engine/__init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from engine.det import cents_col, cents_sql, pround
from engine.registry import query
from engine.session import load

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


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type,
           COUNT(*) AS n_transitions,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 4)
             AS p_transition
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (from → to) event-type pair, the transition count and the
    row-normalized probability — the session-flow model behind "what do
    users do after X" product questions.

    One lead() window per user (unique (ts, event_id) order), then a
    grouped count; the row normalization is a window over the
    aggregated 5×5 transition grid, bounded at any scale. The stream
    shuffles once on user_id; the grid aggregate is map-side combined.
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    total = F.sum("n_transitions").over(W.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        pround(F.col("n_transitions").cast("double") / total, 4).alias(
            "p_transition"
        ),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status
      FROM orders
    ), r AS (
      SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS status FROM orders
    )
    SELECT COALESCE(l.status, '<null>') AS status_key,
           COUNT(*) AS n_orders,
           CAST(COUNT(r.status) AS BIGINT) AS n_plain_matched
    FROM l JOIN r ON l.status IS NOT DISTINCT FROM r.status
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other, unlike plain `=` which drops them — the
    semantics gap that silently loses rows when join keys are nullable.
    Fixtures carry no NULLs (FIXTURES.md invariant 3), so the nullable
    key is manufactured with NULLIF; the n_plain_matched column counts
    what a plain join would have kept, making the dropped-rows delta
    visible in the result itself.

    Catalyst hashes `<=>` like any equi-key (null-safe comparisons are
    valid hash keys), so this stays a hash join — no nested-loop
    fallback at scale.
    """
    o = load(spark, sf_dir, "orders")
    left = o.select(
        "o_orderkey", F.nullif("o_orderstatus", F.lit("P")).alias("status")
    )
    right = (
        o.select(F.nullif("o_orderstatus", F.lit("P")).alias("r_status"))
        .distinct()
    )
    return (
        left.join(right, left["status"].eqNullSafe(right["r_status"]))
        .groupBy(F.coalesce("status", F.lit("<null>")).alias("status_key"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count("r_status").cast("bigint").alias("n_plain_matched"),
        )
    )
