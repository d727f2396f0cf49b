"""Content-stable train/eval split — the ONE definition.

Shared by ``llm_train_test_split`` (engine.llm_ops), ``llm_decontaminate``
and ``llm_dedup_pipeline`` (engine.curation). Registers no query.

Rule: first md5 hex digit of doc_id < SPLIT_TRAIN_BUCKETS (of 16) → train
(~81/19). The SQL (DuckDB oracle) and Column (Spark) forms must change
together.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SPLIT_TRAIN_BUCKETS = 13

SPLIT_CASE_SQL = f"""CASE WHEN STRPOS('0123456789abcdef',
                              SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1))
                          - 1 < {SPLIT_TRAIN_BUCKETS}
                     THEN 'train' ELSE 'eval' END"""


def split_col() -> Column:
    """Spark form of :data:`SPLIT_CASE_SQL`."""
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    )
    return (
        F.when(digit < SPLIT_TRAIN_BUCKETS, F.lit("train"))
        .otherwise(F.lit("eval"))
    )
