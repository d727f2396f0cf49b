"""The events table as a Structured Streaming source (file replay),
with the batch table's column surface. Registers no query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _events_stream_schema(sf_dir: str) -> tuple[StructType, bool]:
    """Explicit schema for the streaming file source (never infer on a stream).

    ``events.ts`` has shipped both as parquet TIMESTAMP(NANOS) (read as long
    nanos via the legacy conf) and as native TIMESTAMP(MICROS)/NTZ — sniff the
    footer (pyarrow, metadata-only) and build the matching Spark schema.
    Returns (schema, ts_is_long).
    """
    import pyarrow.parquet as pq

    arrow_ts = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    ts_is_long = str(arrow_ts).startswith("int") or str(arrow_ts).endswith("[ns]")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_is_long else TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return schema, ts_is_long


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a Structured Streaming source (file replay).

    Identical column surface to the batch ``load(..., 'events')`` so every
    batch-checked expression in engine.streaming runs unchanged on the
    stream (SURVEY.md §3.4: batch and streaming share one logical-plan
    front-end).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, ts_is_long = _events_stream_schema(sf_dir)
    ts_norm = (
        F.expr("timestamp_micros(ts div 1000)")
        if ts_is_long
        else F.col("ts").cast(TimestampType())
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", ts_norm)
    )
