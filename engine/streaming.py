"""Streaming-shaped operators (SURVEY.md §2.I).

Batch forms run against the static ``events`` table and are
oracle-checked; the *same expressions* run over ``spark.readStream``
(Structured Streaming) — exposed via :func:`events_stream` and the
``stream_watermark_design`` query (no-oracle: a continuous query can't be
hash-compared) plus streaming smoke tests in ``tests/test_streaming.py``.

Scale notes: windowed/session aggregation state lives in the executor
state store keyed by (group, window); the watermark bounds state size —
without it, 100 TB of late-arriving events would pin unbounded state.
"""

from __future__ import annotations

import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import (
    _CENTS_SQL,
    cents_col,
    cents_sql,
    exact_sum,
    exact_sum_sql,
    pround,
)
from engine.registry import query
from engine.roundtrip import SCRATCH
from engine.session import load
from engine.stream_source import events_stream


def tumbling_agg(ev: DataFrame) -> DataFrame:
    """1 h tumbling window × event_type — shared by batch and streaming."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding",
    oracle=f"""
    SELECT ws AS window_start, COUNT(*) AS n_events, ROUND(CAST(SUM({_CENTS_SQL}) AS DOUBLE) / 100, 2) AS sum_value
    FROM (
      SELECT TIME_BUCKET(INTERVAL 30 MINUTE, ts) AS ws, value FROM events
      UNION ALL
      SELECT TIME_BUCKET(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS ws, value
      FROM events
    )
    GROUP BY ws
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 h windows sliding every 30 min (SURVEY.md §2.I stream_sliding).

    Each event belongs to exactly 2 windows; the oracle reconstructs that
    as a union of its 30-min bucket and the bucket 30 min earlier.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_agg(ev: DataFrame) -> DataFrame:
    """Per-user 30-min-gap session aggregate — shared by batch and streaming."""
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_session",
    oracle=f"""
    WITH flagged AS (
      -- TOTAL window order (ts, event_id), not just ts: the flag CTE
      -- and the running-sum CTE are two SEPARATE window sorts, and
      -- with tied timestamps an underdetermined ORDER BY ts lets the
      -- two sorts order ties differently — the new_session flag row
      -- then lands mid-cluster in the second sort and every tied row
      -- sorted before it leaks into the PREVIOUS session (caught by
      -- the composed skew×row-order sweep at sf0.1: the hot user's
      -- 6-hour-grid clusters swapped 1–101 events between adjacent
      -- sessions run-to-run). Gaps between ties are 0 either way, so
      -- the tiebreak changes nothing semantically — it only makes the
      -- two sorts agree. SURVEY §7.5.4, oracle side.
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, ROUND(CAST(SUM({_CENTS_SQL}) AS DOUBLE) / 100, 2) AS sum_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 30 min inactivity gap
    (SURVEY.md §2.I stream_session).

    Boundary semantics verified empirically: a gap of exactly 30:00
    MERGES (sessions merge when the new event's window touches the
    previous end), so the oracle's gaps-and-islands flags a new session
    only when the gap is strictly > 30 min (SURVEY.md §7.6.3).
    """
    return session_agg(load(spark, sf_dir, "events"))


@query(
    "stream_watermark_design",
    oracle=f"""
    SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(CAST(SUM({_CENTS_SQL}) AS DOUBLE) / 100, 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_watermark_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data policy: 10-min watermark + tumbling count, executed as a
    real Structured Streaming query (SURVEY.md §2.I).

    File-source replay of events.parquet → withWatermark → 1 h window ×
    event_type counts → memory sink, availableNow trigger (processes the
    whole fixture as micro-batches, then stops). The watermark bounds
    state: windows older than max(event time) − 10 min are finalized and
    evicted; on an unbounded 100 TB stream this is what keeps state-store
    size O(active windows), not O(history).

    Oracled since r7 (upgrading the r3 rows-only row): the execution is
    deterministic because (a) the fixture is one parquet file, so the
    whole replay is a single micro-batch in which the watermark is
    still at epoch — no row can be late — and (b) COMPLETE output mode
    emits every window regardless of eviction. The final sink therefore
    hash-equals the batch 1-h × event_type aggregate, which IS
    SQL-expressible. The late-drop/eviction behaviors that a
    single-batch replay cannot show are pinned separately with
    multi-batch controlled sources in tests/test_streaming.py.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink_name = f"wm_{uuid.uuid4().hex[:8]}"
    ckpt = SCRATCH / f"ckpt_{sink_name}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    result = spark.table(sink_name)
    # materialize before the memory sink is dropped by later queries
    return spark.createDataFrame(result.collect(), schema=result.schema)


def user_state_agg(ev: DataFrame) -> DataFrame:
    """Per-user lifetime state (count, sum, last-seen) — the batch form
    of the custom stateful operator; shared output contract with
    :func:`user_state_stream`."""
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "stream_user_state",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, ROUND(CAST(SUM({_CENTS_SQL}) AS DOUBLE) / 100, 2) AS sum_value,
           MAX(ts) AS last_ts
    FROM events GROUP BY 1
    """,
)
def stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime state (SURVEY.md §2.I family; batch-checked form
    of the applyInPandasWithState custom stateful operator)."""
    return user_state_agg(load(spark, sf_dir, "events"))


def user_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running
    (count, sum, last-seen) via ``applyInPandasWithState``.

    This is the escape hatch for stateful logic Spark's built-in
    windows/aggregates can't express (per-key models, custom eviction,
    running sketches): state lives in the executor state store keyed by
    user_id, each micro-batch folds its Arrow batches into the state and
    emits the updated rows (update mode). State is O(active keys) — at
    100 TB the watermark/timeout (here NoTimeout; production sets a TTL
    via GroupStateTimeout) bounds it.

    Returns the streaming DataFrame; callers attach a sink (the smoke
    test uses a memory sink + availableNow and checks the final state
    equals :func:`user_state_agg` of the batch table).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "ts", "value")

    def fold(key, pdfs, state):
        if state.exists:
            n, s, mx_us = state.get
        else:
            n, s, mx_us = 0, 0.0, None
        for pdf in pdfs:
            n += len(pdf)
            # exact integer-cents accumulation (r10 quantization audit):
            # the state `s` holds whole cents in a double (exact until
            # 2^53), so the lifetime sum is independent of micro-batch
            # arrival order — matching the batch form's quantized sum.
            s += float(np.floor(pdf["value"] * 100 + 0.5).sum())
            batch_mx = pdf["ts"].max()
            mx_ns = batch_mx.value
            mx_us = mx_ns // 1000 if mx_us is None else max(mx_us, mx_ns // 1000)
        state.update((n, s, mx_us))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "n_events": pd.Series([n], dtype="int64"),
                "sum_value": pd.Series([s / 100], dtype="float64"),
                "last_ts": pd.Series([pd.Timestamp(mx_us * 1000)]),
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id long, n_events long, sum_value double, last_ts timestamp"
        ),
        stateStructType="n bigint, s double, mx_us bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by event_id then count per type (SURVEY.md §2.I
    family; batch-checked form of streaming dropDuplicates)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT dedup: ``dropDuplicates`` on the id alone.

    Exact global dedup keeps state for every distinct event_id ever
    seen — O(distinct ids), NOT bounded by the watermark. (Measured on
    Spark 4.1.2: with the event-time column absent from the dedup keys,
    numRowsRemoved stays 0 and state only grows;
    tests/test_streaming.py pins the bounded-state contrast.) That is
    the honest cost of exactness on an unbounded stream; use
    :func:`dedup_stream_within_watermark` when duplicates are known to
    arrive within a bounded delay — the production case — for
    watermark-evicted, O(active-horizon) state."""
    ev = events_stream(spark, sf_dir)
    return ev.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])


def dedup_stream_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark``.

    Drops duplicates arriving within the 10-min watermark delay of the
    first-seen record; each key's state row expires once the watermark
    passes first_ts + delay and is evicted from the state store — state
    is O(ids within the horizon), the property that survives an
    unbounded 100 TB stream. A duplicate arriving after expiry is
    re-admitted (the documented trade vs exact dedup); the eviction and
    re-admission are asserted batch-by-batch in
    tests/test_streaming.py::test_watermark_evicts_dedup_state_across_batches."""
    ev = events_stream(spark, sf_dir)
    return ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join_agg(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Per-user count of (purchase, prior-click-within-10-min) pairs —
    shared by the batch form and the stream-stream join."""
    p = purchases.select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = clicks.select(F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    return (
        p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy(F.col("pu").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE
    GROUP BY p.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase⋈click interval join per user (SURVEY.md §2.I family;
    batch-checked form of the Structured Streaming stream-stream join).

    The equi component (user_id) keys the shuffle; the interval predicate
    evaluates within co-partitioned groups — never a cartesian.
    """
    ev = load(spark, sf_dir, "events")
    return interval_join_agg(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )


def stream_stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form: two watermarked streams, interval join.

    Both sides carry a watermark and the join condition time-bounds each
    side against the other, so Spark derives state-eviction horizons for
    BOTH join buffers — the requirement that makes an unbounded
    stream-stream join feasible: buffered rows older than the horizon
    are dropped, state is O(events within the interval), not O(stream).
    The smoke test joins the replayed fixture and compares pair rows
    against the batch interval join.
    """
    ev = events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
        .withWatermark("pts", "10 minutes")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
        .withWatermark("cts", "10 minutes")
    )
    return p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 10 MINUTES")),
    )


@query(
    "stream_tumbling",
    oracle=f"""
    SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM({_CENTS_SQL}) AS DOUBLE) / 100, 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 h tumbling windows (SURVEY.md §2.I stream_tumbling).

    Spark's ``window()`` aligns to the epoch, as does DuckDB's
    ``time_bucket`` — window starts agree exactly.
    """
    return tumbling_agg(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# stream_tws_counter — Spark 4 transformWithStateInPandas surface
# ---------------------------------------------------------------------------


@query(
    "stream_tws_counter",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1
    """,
)
def stream_tws_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime (count, cent-sum) state — batch-checked form of
    the ``transformWithStateInPandas`` stateful streaming operator
    (tws_counter_stream below), the engine.streaming pattern: the
    registered query IS the semantic contract, the streaming run is
    asserted equal in tests/test_seeds8_properties.py.

    transformWithState is Spark 4's arbitrary-state API (typed state
    variables, timers, TTL — the applyInPandasWithState successor); the
    cent-sums keep state integer so stream and batch agree exactly.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(cents_col(F.col("value"))).cast("bigint").alias("sum_cents"),
    )


def tws_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming side: per-user running (n_events, sum_cents) via a
    ``StatefulProcessor`` with a typed ValueState, replayed from the
    events parquet through the shared file-stream source.

    State is O(active users) in the executor state store (RocksDB
    provider — required by transformWithState); each micro-batch folds
    its Arrow batches into the tuple state and emits the updated rows
    (update mode). At 100 TB a production processor adds state TTL; the
    fixture replay keeps every key live.

    Returns the streaming DataFrame; the test attaches a memory sink
    with availableNow and checks the final per-key rows equal the
    batch-checked :func:`stream_tws_counter`.

    CONTAINER CAVEAT (same honesty rule as source_avro_roundtrip's
    avro probe): the transformWithState Python runner imports
    google.protobuf, which
    this container lacks (and installs are off-limits), so the
    streaming execution path is an UNTESTED surface here — the test
    probes for protobuf and skips with that exact reason. The
    batch-checked semantic contract above stays oracle-verified either
    way.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle


    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    ev = events_stream(spark, sf_dir).select(
        "user_id", cents_col(F.col("value")).alias("c")
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("agg", "n BIGINT, s BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, s = (
                self.state.get() if self.state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                s += int(pdf["c"].sum())
            self.state.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]], dtype="int64"),
                    "n_events": pd.Series([n], dtype="int64"),
                    "sum_cents": pd.Series([s], dtype="int64"),
                }
            )

        def close(self) -> None:
            pass

    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Counter(),
        outputStructType="user_id long, n_events long, sum_cents long",
        outputMode="Update",
        timeMode="None",
    )


FB_WINDOW_SECS = 6 * 3600
FB_BUCKETS = 16  # hash buckets of the (window, event_type) merge key


@query(
    "stream_foreach_batch_merge",
    oracle=f"""
    SELECT CAST(TO_TIMESTAMP(FLOOR(epoch(ts) / {FB_WINDOW_SECS})
                             * {FB_WINDOW_SECS}) AS TIMESTAMP)
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {exact_sum_sql(cents_sql("value"), 100)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch merge sink, run for real: a Structured Streaming
    file replay (availableNow) aggregates 6-hour tumbling windows and
    each micro-batch MERGES into a keyed store by (window, event_type)
    overwrite — the idempotent exactly-once pattern used when the sink
    is not a transactional table format. The merged result is returned
    as the query output, so the driver's oracle hash-checks the
    *post-merge* state against the plain batch aggregate: replay +
    merge must equal one batch pass.

    Scale shape: the streaming aggregate carries watermark-bounded
    state; the merge is MERGE-ON-WRITE into a parquet store partitioned
    by a hash BUCKET of the merge key ({FB_BUCKETS} buckets): each
    micro-batch prunes the store to the buckets it touches, anti-joins
    the surviving old keys, unions in the new rows, and dynamically
    overwrites just those bucket partitions — the idempotent contract a
    MERGE INTO gives on a table format, emulated on plain parquet.
    Rows never leave the executors (the only driver hop is the ≤
    {FB_BUCKETS}-value affected-bucket list — partition-pruning
    metadata, not data), so the sink works unchanged when the key space
    or batch volume grows 100×; one dir per bucket keeps the committer
    cost O(buckets), not O(keys) (a full-key dir layout paid ~20 ms ×
    600 key-dirs per batch here).
    """
    run = uuid.uuid4().hex[:8]
    ckpt = SCRATCH / f"fbm_{run}"
    store = SCRATCH / f"fbm_store_{run}"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.select(
            F.col("window").start.alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        ).withColumn(
            "bkt",
            F.pmod(F.hash("window_start", "event_type"), F.lit(FB_BUCKETS)),
        )
        touched = [r["bkt"] for r in new.select("bkt").distinct().collect()]
        # An empty micro-batch must not touch the store: writing it
        # would create a parquet dir with no partition files, and the
        # NEXT batch's schema-inferring read of the store would abort
        # the stream (ADVICE r4 — latent here because file replay
        # batches are non-empty, real on sources that emit an empty
        # batch 0).
        if not touched:
            return
        if store.exists():
            old = (
                spark.read.parquet(str(store))
                # Partition pruning: only the touched buckets are read.
                .filter(F.col("bkt").isin(touched))
                .join(new, ["window_start", "event_type"], "left_anti")
            )
            new = new.unionByName(old)
        # Materialize before overwriting the dirs the plan reads from,
        # then write with one task per touched bucket: repartition on
        # the partition key keeps the writer parallel when the key
        # space is data-sized (VERDICT r4 nit — coalesce(1) serialized
        # the sink through a single task) while still emitting one file
        # per bucket dir, so the committer cost stays O(buckets).
        (
            new.localCheckpoint(eager=True)
            .repartition("bkt")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bkt")
            .parquet(str(store))
        )

    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", f"{FB_WINDOW_SECS} seconds"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum (r10 quantization audit): update mode
            # re-emits the window's full re-aggregate each micro-batch,
            # so the merged store always holds the exact final value.
            exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
        )
    )
    q = (
        agg.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout — a partially merged
        # store is a silently wrong answer, so fail loudly instead.
        if not q.awaitTermination(180):
            raise TimeoutError(
                "stream_foreach_batch_merge: replay did not complete"
                " within 180s"
            )
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

    # The store dir stays (uuid-named scratch, same lifecycle as the
    # csv/json/orc roundtrip sinks) so the returned plan reads it lazily.
    if not store.exists():
        # Every micro-batch was empty (empty source): the merged state
        # is the empty keyed store, not a read error.
        return spark.createDataFrame(
            [],
            "window_start timestamp, event_type string,"
            " n_events bigint, sum_value double",
        )
    return spark.read.parquet(str(store)).select(
        "window_start",
        "event_type",
        "n_events",
        pround(F.col("sum_value"), 2).alias("sum_value"),
    )
