"""Driver-session-config invariance for the current correctness window
(the first 50 registered queries, pinned by the window literal that
engine/__init__ passes to registry.promote).

The driver runs ``queries()`` under ITS OWN SparkSession, not
``engine.session.get_spark`` — so nothing in a query result may depend
on this repo's session sizing (``spark.sql.shuffle.partitions=8`` at
fixture scale). Every prior window went green under the driver's
config, but the current window's ops have never executed under a
foreign session. This module re-runs the whole window against the
DuckDB oracle with ``shuffle.partitions=200`` (Spark's stock default —
the worst realistic divergence from our 8): results must be
partition-count-invariant, which is also the 100 TB statement that the
answer does not change when a cluster picks a different parallelism.

Runtime conf is mutated on the shared session and restored afterward
(``shuffle.partitions`` is runtime-settable; plans pick it up per
query). The no-oracle window ops get the driver's rows-run smoke.
"""

from __future__ import annotations

import os

import pytest

import engine
from tests.conftest import SF_DIR, assert_frames_match

# Default = the driver's 50-row window; ENGINE_INVARIANCE_WINDOW=289
# sweeps the whole registry (used for the recorded full ad-hoc runs).
WINDOW_N = int(os.environ.get("ENGINE_INVARIANCE_WINDOW", "50"))
WINDOW = list(engine.QUERIES)[:WINDOW_N]
DRIVERISH_PARTITIONS = "200"


@pytest.fixture(scope="module")
def spark_driverish(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", DRIVERISH_PARTITIONS)
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize(
    "qid", [q for q in WINDOW if q in engine.ORACLES]
)
def test_window_oracle_pair_under_driverish_partitions(
    spark_driverish, ddb, qid
):
    spark_df = engine.QUERIES[qid](spark_driverish, SF_DIR)
    oracle_pdf = ddb.execute(engine.ORACLES[qid]).fetchdf()
    assert_frames_match(spark_df, oracle_pdf, qid=qid)


@pytest.mark.parametrize(
    "qid", [q for q in WINDOW if q not in engine.ORACLES]
)
def test_window_no_oracle_smoke_under_driverish_partitions(
    spark_driverish, qid
):
    df = engine.QUERIES[qid](spark_driverish, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
