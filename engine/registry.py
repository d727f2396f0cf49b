"""Query/oracle registry.

Every operator from SURVEY.md §2 registers here as a ``(spark, sf_dir) ->
DataFrame`` function plus (when SQL-expressible) a DuckDB oracle SQL string
over the same parquet tables. The driver hash-compares the two at sf=0.01
(row count + schema + order-insensitive value hash), so SURVEY.md §7.5's
determinism rules (UTC, in-query rounding, identical aliases, unique sort
keys, sorted collects) are enforced at registration call sites.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from engine.det import portable_round_sql

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Session invariants every query depends on (SURVEY.md §7.5.1): the driver
# owns the SparkSession, so each query defensively pins runtime confs.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
}


def _pin_confs(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def query(qid: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``qid``; optionally with a DuckDB oracle
    SQL string.

    Queries without an oracle get the driver's weaker rows-only check
    (SURVEY.md §2 'no-oracle' rows).
    """

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str, **kw: Any) -> DataFrame:
            _pin_confs(spark)
            return fn(spark, sf_dir, **kw)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__  # lets tests audit the
        # registration window by module (tests/test_plans.py)
        wrapped.__wrapped__ = fn  # lets inspect.unwrap reach the REAL
        # operator body — source-scanning pins (e.g. the no-driver-stage
        # pin on llm_embedding_neardup) would otherwise silently inspect
        # this 2-line wrapper and pass vacuously (ADVICE r12)
        if qid in QUERIES:
            raise ValueError(f"duplicate query id: {qid}")
        QUERIES[qid] = wrapped
        if oracle is not None:
            # ROUND() in oracle strings is rewritten to the portable
            # floor-based form so both engines round identically
            # (engine.det).
            ORACLES[qid] = portable_round_sql(oracle)
        return wrapped

    return deco


def promote(window_ids: list[str]) -> None:
    """Reorder ``QUERIES`` so ``window_ids`` come first, in the given
    order: the driver checks queries in registration order and reports
    the first 50, so the window does not depend on import order.

    Raises on unknown or duplicate ids, so a bad window fails at import.
    """
    seen: set[str] = set()
    for qid in window_ids:
        if qid not in QUERIES:
            raise ValueError(f"promote: unknown query id: {qid}")
        if qid in seen:
            raise ValueError(f"promote: duplicate query id: {qid}")
        seen.add(qid)
    rest = [q for q in QUERIES if q not in seen]
    reordered = {q: QUERIES[q] for q in list(window_ids) + rest}
    QUERIES.clear()
    QUERIES.update(reordered)
