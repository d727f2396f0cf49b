"""Scratch state for the write→read source, sink, maintenance and
streaming queries, and the roundtrip checks they run. Registers no
query.

Every directory a query writes to comes from :func:`scratch_dir` and
is gone when its ``with`` block exits; a result that must outlive the
block goes through :func:`localize`. A query therefore leaves nothing
behind on disk or in the catalog, however often it runs.
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager
from pathlib import Path
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


@contextmanager
def scratch_dir(prefix: str) -> Iterator[Path]:
    """A fresh empty directory under the system temp root, removed with
    everything in it when the block exits. Errors during removal are
    ignored: a ``DROP DATABASE ... CASCADE`` may already have deleted
    the directory. The directory's name (``prefix`` plus eight
    characters from ``[a-z0-9_]``) is unique while it exists, so callers
    also use it to name catalog objects."""
    with tempfile.TemporaryDirectory(
        prefix=prefix, ignore_cleanup_errors=True
    ) as d:
        yield Path(d)


@contextmanager
def scratch_database(spark: SparkSession, prefix: str) -> Iterator[str]:
    """A catalog database located in a :func:`scratch_dir`, named after
    that directory, and dropped with its tables when the block exits."""
    with scratch_dir(prefix) as d:
        db = d.name
        spark.sql(f"CREATE DATABASE {db} LOCATION '{d}'")
        try:
            yield db
        finally:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def localize(df: DataFrame) -> DataFrame:
    """Run ``df`` and return its rows as a local relation with the same
    schema, so the result no longer reads the scratch directory, sink or
    session conf its plan depended on.

    Every row passes through the driver, so this is only for
    aggregate-sized results, which is all any caller returns: one row
    per group key, where the key is a dimension value (priority,
    language, event type, year) or a calendar window × event type over
    the replayed span (the two streaming queries)."""
    return df.sparkSession.createDataFrame(df.collect(), schema=df.schema)


def run_available_now(
    spark: SparkSession,
    writer: DataStreamWriter,
    prefix: str,
    timeout_s: int,
    result: Callable[[str], DataFrame],
) -> DataFrame:
    """Run a streaming write to completion under the availableNow
    trigger and return ``localize(result(name))``.

    The query is named after its checkpoint directory, a
    :func:`scratch_dir` removed on return, so a memory sink's view is
    ``spark.table(name)``; the query is stopped and that view dropped
    on return and on failure alike. A query that has not finished
    within ``timeout_s`` raises ``TimeoutError``: the sink would hold a
    partial answer."""
    with scratch_dir(prefix) as ckpt:
        name = ckpt.name
        q = (
            writer.queryName(name)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(
                    f"streaming query {name} did not finish within {timeout_s}s"
                )
            return localize(result(name))
        finally:
            q.stop()
            spark.catalog.dropTempView(name)


def roundtrip_verified(written: DataFrame, back: DataFrame) -> DataFrame:
    """Assert that the read-back rows equal the written rows and return
    the read-back, localized.

    The comparison is an order-insensitive multiset equality done on
    the driver: both sides are aggregate-sized, so two collects beat
    the four shuffle jobs a symmetric ``exceptAll`` would launch.
    Returning the read-back, not the written frame, keeps the read path
    under test: a schema-coercion or parse regression changes the
    result or fails the assertion."""
    back_rows = back.collect()
    w = sorted((tuple(r) for r in written.collect()), key=repr)
    b = sorted((tuple(r) for r in back_rows), key=repr)
    if w != b:
        raise AssertionError(
            f"roundtrip mismatch: wrote {len(w)} rows, read back {len(b)};"
            f" first diff: {next((x for x in zip(w, b) if x[0] != x[1]), None)}"
        )
    return back.sparkSession.createDataFrame(back_rows, schema=back.schema)


def roundtrip_verified_big(written: DataFrame, back: DataFrame) -> DataFrame:
    """Distributed multiset-equality assertion for roundtrips whose row
    count makes a driver-side compare inappropriate: symmetric
    ``exceptAll`` (order-insensitive, duplicate-aware) — the pattern
    that still works when the roundtrip payload is a full corpus, not a
    tiny aggregate. Returns ``back`` unchanged (still reading the
    written files)."""
    missing = written.exceptAll(back).count()
    extra = back.exceptAll(written).count()
    if missing or extra:
        raise AssertionError(
            f"roundtrip mismatch: {missing} written rows lost,"
            f" {extra} rows differ after read-back"
        )
    return back
