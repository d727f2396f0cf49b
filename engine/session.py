"""SparkSession factory + table loading (SURVEY.md §7.2 M0).

Invariants (SURVEY.md §7.5): UTC session timezone, AQE on, Arrow on,
small shuffle partition count for the small-sf correctness runs (the
driver/bench can override via SPARK_GRAFT_CPUS).

Scale note (100 TB design): nothing here is local-mode-specific. On a real
cluster the same builder runs with a cluster master; shuffle partitions
should then be sized to ~128 MB of shuffle data per partition (set
``spark.sql.shuffle.partitions`` accordingly, or rely on AQE coalescing,
which is enabled here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "pyspark-analytics-engine",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # NUMPY_MADVISE_HUGEPAGE=0 (engine/__init__ sets the default before
    # any operator module imports numpy; overridable by pre-setting the
    # var) disables numpy's MADV_HUGEPAGE on large allocations.
    # Forensics of the "heap tax": with THP in madvise mode, numpy
    # advises 2 MB huge pages for arrays ≥ 4 MB, and once a long
    # session's churn has fragmented physical memory, each first-touch
    # fault can enter multi-second DIRECT COMPACTION — measured
    # in-worker: a 32 MB elementwise op at 4.8-7.8 s of pure kernel
    # time (stime, ~16 faults per 32 MB = 2 MB pages) right after
    # heavy queries, 0.02 s once the allocator reuses the arena. This —
    # not JVM heap, not the former driver-side broadcast — was the
    # llm_embedding_neardup in-bench swing (r9 1.29 s -> r11 6.8 s with
    # zero code change; 0.44-0.62 s under the same churn with this flag).
    # The env is set BEFORE the JVM launches: local-mode Python workers
    # inherit it driver -> JVM -> daemon -> fork. The executorEnv conf
    # below carries the same flag to real-cluster executors, where
    # THP-compaction stalls in Python workers are a known production
    # failure mode; hosts that reserve hugepages can override.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # Sized to DATA, not cores: at the fixture scales every shuffle is
        # well under 1 GB, so 8 partitions keeps each ≥ the ~128 MB target
        # and avoids paying 32× task-launch + Python-worker overhead per
        # stage (measured 1.7× total bench wall at 32). A production run
        # at real volume overrides via SPARK_GRAFT_SHUFFLE (rule of thumb:
        # total shuffle bytes / 128 MB, floored at 2-3× total cores) —
        # and AQE coalescing, enabled below, re-sizes at runtime anyway.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # Cluster-mode twin of the driver-env flag (local-mode
        # workers inherit the driver env; separate executors need it
        # injected). Same value on purpose: one knob, one override.
        .config(
            "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE",
            os.environ["NUMPY_MADVISE_HUGEPAGE"],
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Session-scoped SCHEMA catalog (metadata only, never data): every
# `load()` used to run driver-side schema inference — a py4j round-trip
# plus a parquet footer read — and the bench's 290 queries issue 400+
# load calls, so ~0.07-0.13 s of pure metadata latency was charged to
# every query (measured r14; ~15% of the whole bench wall). Any real
# engine resolves table schemas from a catalog instead of re-reading
# footers per query; Spark itself caches file listings per session
# (spark.sql.hive.filesourcePartitionFileCacheSize — optimization guide
# §6). The key includes the file's (mtime_ns, size) — same invalidation
# discipline as the worker-side corpus cache (engine.scale_ops)— plus
# the application id, so a rewritten fixture or a fresh session can
# never see a stale schema. Execution-side behavior is unchanged: the
# scan still reads every footer and all data from the parquet inputs on
# every run (this memo holds a StructType, no rows, no plan fragments).
_SCHEMA_CATALOG: dict = {}


def _table_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
        key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    except OSError:
        # Directory tables / odd layouts: skip the catalog, infer as before.
        return spark.read.parquet(path).schema
    hit = _SCHEMA_CATALOG.get(key)
    if hit is None:
        hit = _SCHEMA_CATALOG[key] = spark.read.parquet(path).schema
    return hit


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (schemas in FIXTURES.md) as a DataFrame.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (Spark 4 rejects it by default —
    read as long nanos via the legacy conf and truncate to µs), and native
    TIMESTAMP(MICROS) without UTC adjustment (Spark reads TIMESTAMP_NTZ).
    Normalize both to session-zone TimestampType (session tz is UTC, so the
    NTZ→TZ cast is value-preserving and matches DuckDB's naive reading;
    SURVEY.md §1.2).

    The table SCHEMA comes from the session catalog (:data:`_SCHEMA_CATALOG`)
    so repeated loads don't re-infer it from footers; the reader is built
    with the explicit schema, which skips driver-side inference but changes
    nothing about execution (scan, pushdown, and pruning are identical).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(_table_schema(spark, path)).parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(_table_schema(spark, path)).parquet(path)
