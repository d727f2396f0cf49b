"""Roundtrip-verification helpers for the write→read source and sink
queries, and the scratch directory they write to. Registers no query.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

SCRATCH = Path(__file__).resolve().parent.parent / ".scratch"


def roundtrip_verified(written: DataFrame, back: DataFrame) -> DataFrame:
    """Materialize the read-back rows and assert they equal what was
    written (order-insensitive multiset equality, compared driver-side —
    both sides are tiny aggregates, so two collects beat the four
    shuffle jobs a symmetric exceptAll would launch).

    Round 1 forced the read with count() but returned the PRE-write
    aggregate, so a schema-coercion or parse regression in the read path
    could never fail the check (ADVICE r1). Returning the materialized
    read-back (and failing loudly on any diff) makes the roundtrip the
    thing actually under test. Both sides are tiny aggregates, so the
    comparison is a few rows."""
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
    tiny aggregate."""
    missing = written.exceptAll(back).count()
    extra = back.exceptAll(written).count()
    if missing or extra:
        raise AssertionError(
            f"roundtrip mismatch: {missing} written rows lost,"
            f" {extra} rows differ after read-back"
        )
    return back
