"""Shared JVM-side vector expressions over array<float> columns, used
by engine.llm_ops, engine.scale_ops and engine.curation. Registers no
query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sq_norm(arr: Column) -> Column:
    """Σx² over an array<float>, accumulated in double."""
    return F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def _dot(a: Column, b: Column) -> Column:
    """Σaᵢbᵢ via zip_with + fold, accumulated in double (JVM-side
    higher-order functions — no Python, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity dot/(‖a‖·‖b‖) — try_divide, because a zero-norm
    vector (a null-imputed embedding batch, a padded shard) makes the
    denominator exactly 0 and plain `/` is a job abort under Spark 4's
    default ANSI mode. NULL instead, matching DuckDB's divide-by-zero,
    so every mirrored oracle agrees; descending top-k orders NULLs last
    on both engines (tests/test_zero_values.py)."""
    return F.try_divide(_dot(a, b), F.sqrt(_sq_norm(a)) * F.sqrt(_sq_norm(b)))
