"""Property tests for the round-6 seeds that the driver's hash compare
cannot fully cover: the GK sketch's rank-error contract (the approx
column is declared no-oracle — DuckDB uses a t-digest, so no
cross-engine hash can exist) and the k-fold split's partition/stability
invariants (the oracle checks counts; these check the CONTRACT).
"""

from __future__ import annotations

import bisect

from pyspark.sql import functions as F

import engine
from engine.aggregates import PCTL_PROBES
from engine.curation import K_FOLDS
from tests.conftest import SF_DIR

SF_SMALL = "/root/testdata/sf0.001"
GK_ACCURACY = 10000  # must match agg_percentile_drift's literal


def test_gk_sketch_rank_error_within_bound(spark):
    """approx_percentile(…, accuracy) guarantees rank error ≤
    n/accuracy. Assert it at two scale factors: the rank of the approx
    value among the group's sorted values must sit within eps·n (+2
    slack for boundary ties under the 4-dp output rounding) of the
    target rank. This is the bound that makes the sketch a legitimate
    replacement for the exact form at 100 TB."""
    for sf in (SF_SMALL, SF_DIR):
        vals: dict[str, list[float]] = {}
        for r in (
            spark.read.parquet(f"{sf}/events.parquet")
            .select("event_type", "value")
            .collect()
        ):
            vals.setdefault(r["event_type"], []).append(r["value"])
        for v in vals.values():
            v.sort()
        rows = engine.QUERIES["agg_percentile_drift"](spark, sf).collect()
        assert len(rows) == 5 * len(PCTL_PROBES)
        for r in rows:
            v = vals[r["event_type"]]
            n = len(v)
            lo = bisect.bisect_left(v, r["approx_val"])
            hi = bisect.bisect_right(v, r["approx_val"])
            target = r["quantile"] * (n - 1)
            bound = n / GK_ACCURACY + 2
            # nearest rank of the approx value to the target rank
            err = min(abs(lo - target), abs(hi - 1 - target))
            assert err <= bound, (
                f"{sf} {r['event_type']} q={r['quantile']}: rank error "
                f"{err} > bound {bound} (n={n})"
            )


def test_kfold_partitions_every_stratum(spark):
    """Folds partition every stratum: fold ids ∈ [0, K), and per-lang
    fold counts sum to the stratum size (no doc dropped or
    double-assigned — the oracle hash already pins WHICH fold, this
    pins the partition property)."""
    rows = engine.QUERIES["llm_kfold_split"](spark, SF_DIR).collect()
    per_lang: dict[str, int] = {}
    for r in rows:
        assert 0 <= r["fold"] < K_FOLDS
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + r["n_docs"]
    truth = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_lang == truth
