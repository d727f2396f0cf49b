"""Aggregation, data-quality and profiling queries (``agg_``, ``dq_``
and ``profile_``): statistical aggregates, sketches, distribution
audits, constraint reports and table profiles.

Aggregates are map-combinable (two-phase) wherever the statistic
allows; money sums run in exact integer cents (engine.det) so both
engines agree to the last digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import (
    _CENTS_SQL,
    cents_col,
    cents_sql,
    exact_avg,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
    pround,
)
from engine.registry import query
from engine.session import load


@query(
    "agg_conditional_family",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_lines,
           CAST(COUNT(*) FILTER (l_discount > 0.05) AS BIGINT)
             AS n_discounted,
           BOOL_AND(l_quantity > 0) AS all_positive_qty,
           BOOL_OR(l_tax > 0.07) AS any_high_tax,
           ROUND(MAX_BY(l_extendedprice,
                        (l_orderkey * 10 + l_linenumber) * 10000000000
                        + CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)), 2)
             AS latest_price,
           ROUND(MIN_BY(l_extendedprice,
                        (l_orderkey * 10 + l_linenumber) * 10000000000
                        + CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)), 2)
             AS earliest_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional-aggregate family in one pass: count_if, bool_and/
    bool_or, and max_by/min_by — the aggregate surface beyond plain
    sum/avg (SURVEY.md §2.C family).

    max_by/min_by need a UNIQUE ordering key because ties are an
    engine's arbitrary choice (§7.5) — and the fixture's (orderkey,
    linenumber) is NOT unique (duplicate lines exist), so the cent
    value itself is packed into the low digits of a single bigint key
    ((orderkey×10+linenumber)×10¹⁰ + cents, exact 63-bit arithmetic at
    fixture key ranges; DuckDB 1.0's max_by takes no struct ordering).
    Every other aggregate here is an exact count/boolean. One
    map-side-combined shuffle over the 3-value status domain.
    """
    li = load(spark, sf_dir, "lineitem")
    uniq = (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * F.lit(
        10_000_000_000
    ) + F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    return li.groupBy("l_linestatus").agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        pround(F.max_by("l_extendedprice", uniq), 2).alias("latest_price"),
        pround(F.min_by("l_extendedprice", uniq), 2).alias("earliest_price"),
    )


PCTL_PROBES = (0.5, 0.9, 0.99)


# ---------------------------------------------------------------------------
# agg_melt_nulls — DataFrame.unpivot (melt) with a null-bearing measure
# ---------------------------------------------------------------------------


@query(
    "agg_melt_nulls",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             l_quantity AS quantity,
             l_discount AS discount,
             l_tax      AS tax,
             NULLIF(l_discount, 0.0) AS disc_nz
      FROM lineitem
    ), u AS (
      SELECT l_returnflag, 'quantity' AS measure, quantity AS val FROM m
      UNION ALL
      SELECT l_returnflag, 'discount', discount FROM m
      UNION ALL
      SELECT l_returnflag, 'tax', tax FROM m
      UNION ALL
      SELECT l_returnflag, 'disc_nz', disc_nz FROM m
    )
    SELECT l_returnflag, measure,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           ROUND(CAST(SUM(CAST(FLOOR(val * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(val) / 100, 4) AS avg_val
    FROM u GROUP BY 1, 2
    """,
)
def agg_melt_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure melt through the native ``DataFrame.unpivot`` API
    (the ``melt`` alias), with a null-bearing measure: the fixtures
    contain no NULLs anywhere (FIXTURES.md invariant 3), so
    ``nullif(l_discount, 0)`` manufactures them and the audit proves
    unpivot KEEPS null-valued rows (count(*) vs the null tally) while
    ``avg`` skips them — the semantics DuckDB's UNION-ALL melt mirrors
    exactly. Complements agg_unpivot, which
    melts a pre-aggregated 3-row frame; this melts the raw fact table.

    Scale: unpivot is a per-row Expand (narrow, no shuffle) followed by
    one hash aggregate on a 12-value key space — map-side partials
    collapse it; the measure count multiplies rows 4× BEFORE the
    aggregate but never materializes.
    """
    li = load(spark, sf_dir, "lineitem")
    m = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
        F.expr("nullif(l_discount, 0.0d)").alias("disc_nz"),
    )
    return (
        m.unpivot(
            "l_returnflag",
            ["quantity", "discount", "tax", "disc_nz"],
            "measure",
            "val",
        )
        .groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            # exact cents mean (r10 quantization audit): every melted
            # measure is 2-decimal-grain (quantity integral, discount/
            # tax cents), so the quantization is lossless; COUNT(val)
            # skips the manufactured NULLs exactly as AVG did.
            exact_avg(cents_col(F.col("val")), 100, 4).alias("avg_val"),
        )
    )


# ---------------------------------------------------------------------------
# agg_corr_matrix — pairwise Pearson correlation of the fact measures
# ---------------------------------------------------------------------------

_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]


@query(
    "agg_corr_matrix",
    oracle="""
    WITH s AS (
      SELECT corr(l_quantity, l_extendedprice) AS c0,
             corr(l_quantity, l_discount) AS c1,
             corr(l_quantity, l_tax) AS c2,
             corr(l_extendedprice, l_discount) AS c3,
             corr(l_extendedprice, l_tax) AS c4,
             corr(l_discount, l_tax) AS c5
      FROM lineitem
    )
    SELECT 'l_quantity' AS measure_a, 'l_extendedprice' AS measure_b,
           ROUND(c0, 4) AS corr_r FROM s
    UNION ALL SELECT 'l_quantity', 'l_discount', ROUND(c1, 4) FROM s
    UNION ALL SELECT 'l_quantity', 'l_tax', ROUND(c2, 4) FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_discount', ROUND(c3, 4) FROM s
    UNION ALL SELECT 'l_extendedprice', 'l_tax', ROUND(c4, 4) FROM s
    UNION ALL SELECT 'l_discount', 'l_tax', ROUND(c5, 4) FROM s
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upper triangle of the Pearson correlation matrix across the
    four lineitem measures, flattened to (measure_a, measure_b, r) rows
    — the feature-redundancy screen a model-input audit runs before
    training (near-|1| pairs carry no independent signal).

    All six correlations compute in ONE aggregate pass over the fact
    (a single 1-row partial-aggregate reduction — corr is algebraic, so
    map-side partials combine), then a 6-row stack unpivots the scalars;
    the fact is scanned once regardless of how many pairs are audited.
    """
    li = load(spark, sf_dir, "lineitem")
    # Pearson r as try_divide(covar_pop, σa·σb) — algebraically identical
    # to F.corr (the 1/n factors cancel), but a zero-variance measure
    # (e.g. a constant-price day) yields NULL instead of the ANSI
    # divide-by-zero abort built into Corr's final division; DuckDB's
    # corr already returns NULL there (tests/test_zero_values.py).
    s = li.agg(
        *[
            F.try_divide(
                F.covar_pop(a, b), F.stddev_pop(a) * F.stddev_pop(b)
            ).alias(f"c{i}")
            for i, (a, b) in enumerate(_CORR_PAIRS)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(_CORR_PAIRS)
    )
    return s.select(
        F.expr(
            f"stack({len(_CORR_PAIRS)}, {stack_args})"
            " as (measure_a, measure_b, corr_raw)"
        )
    ).select(
        "measure_a", "measure_b", pround(F.col("corr_raw"), 4).alias("corr_r")
    )


# ---------------------------------------------------------------------------
# agg_percentile_drift — approx_percentile vs exact, audited
# ---------------------------------------------------------------------------


@query("agg_percentile_drift")
def agg_percentile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: exact ``percentile`` vs
    ``approx_percentile`` (GK sketch, accuracy 10000) side by side at
    p50/p90/p99 per event type, with absolute and relative drift — the
    check that tells you whether the approx form (the only affordable
    one at 100 TB, where exact percentile must shuffle every value of
    every group) is fit to REPLACE the exact form for a given column.

    Declared no-oracle like the other sketch surfaces
    (agg_approx_quantile, agg_approx_distinct): DuckDB's approx
    aggregates use a different sketch (t-digest), so no cross-engine
    hash can exist for the approx column by construction — the GK
    guarantee (rank error ≤ n/accuracy) is instead asserted as a bound
    in tests/test_seeds6_properties.py at two scale factors.

    Scale: both aggregates compute in one pass per group; the exact
    side is the audit's witness and would be dropped at production
    scale, leaving the one-pass mergeable sketch.
    """
    probes = ", ".join(f"{p}D" for p in PCTL_PROBES)
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({probes}))").alias("exact"),
        F.expr(f"approx_percentile(value, array({probes}), 10000)").alias(
            "approx"
        ),
        F.count("*").alias("n_rows"),
    )
    q = F.array(*[F.lit(p) for p in PCTL_PROBES])
    ex = F.col("pair")["ex"]
    ap = F.col("pair")["ap"]
    return (
        g.select(
            "event_type",
            "n_rows",
            F.explode(
                F.arrays_zip(
                    q.alias("q"), F.col("exact").alias("ex"),
                    F.col("approx").alias("ap"),
                )
            ).alias("pair"),
        )
        .select(
            "event_type",
            F.col("pair")["q"].alias("quantile"),
            "n_rows",
            pround(ex, 4).alias("exact_val"),
            pround(ap, 4).alias("approx_val"),
            pround(F.abs(ex - ap), 4).alias("abs_drift"),
            # try_divide: an exact percentile of 0 (zeroed measures)
            # makes relative drift undefined — NULL, not an ANSI abort.
            pround(F.try_divide(F.abs(ex - ap), F.abs(ex)), 6).alias(
                "rel_drift"
            ),
        )
    )


# ---------------------------------------------------------------------------
# agg_skew_kurtosis — closed-form higher moments from power sums
# ---------------------------------------------------------------------------


@query(
    "agg_skew_kurtosis",
    oracle="""
    WITH p AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(value) AS s1,
             SUM(value * value) AS s2,
             SUM(value * value * value) AS s3,
             SUM(value * value * value * value) AS s4
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(s1 / n, 4) AS mean_val,
           ROUND(s2 / n - (s1 / n) * (s1 / n), 4) AS var_pop,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / NULLIF(POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 0), 4)
             AS skew,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / NULLIF(POW(s2 / n - (s1 / n) * (s1 / n), 2), 0) - 3, 4)
             AS kurt_excess
    FROM p
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per event type, computed
    from raw power sums (Σx, Σx², Σx³, Σx⁴) with the SAME closed form
    on both engines — Spark's ``skewness``/``kurtosis`` builtins and
    DuckDB's use different bias corrections, so the builtins can never
    hash-match; identical algebra over identical sums does (§7.5
    determinism by construction, the agg_stats companion for moments
    3–4).

    Power sums are map-combined partial aggregates — one shuffle of 4
    doubles + a count per group regardless of corpus size; this is the
    single-pass streaming-moment shape every profiler uses at 100 TB.
    """
    e = load(spark, sf_dir, "events")
    v = F.col("value")
    p = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    m2 = s2 / n - m * m
    # try_divide: a zero-variance group (constant/zeroed measures) has
    # m2 = 0 — skew/kurtosis are undefined (NULL), not an ANSI abort
    # (zero-values exact sweep); oracle NULLIF mirrors it.
    skew = F.try_divide(
        s3 / n - 3 * m * (s2 / n) + 2 * m * m * m, F.pow(m2, 1.5)
    )
    kurt = (
        F.try_divide(
            s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
            - 3 * m * m * m * m,
            F.pow(m2, 2),
        )
        - 3
    )
    return p.select(
        "event_type",
        "n",
        pround(m, 4).alias("mean_val"),
        pround(m2, 4).alias("var_pop"),
        pround(skew, 4).alias("skew"),
        pround(kurt, 4).alias("kurt_excess"),
    )


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — exact distinct counting via mergeable bitmaps
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event type computed with BITMAP
    aggregates (bitmap_bucket_number / bitmap_construct_agg /
    bitmap_count) instead of count_distinct: ids hash into 32k-bit
    bucket bitmaps that merge associatively, so the partial state is a
    fixed-width bitmap per (group, bucket) — map-combinable and
    re-aggregatable across levels, which a COUNT(DISTINCT) expand is
    not. This is the ClickHouse/Snowflake-style exact-distinct shape
    for 100 TB rollups (HLL when approximate is acceptable —
    agg_approx_distinct / agg_hll_drift).

    Oracle is plain COUNT(DISTINCT): the bitmap pipeline must land on
    identical counts — the whole point is exactness.
    """
    e = load(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    counts = per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )
    totals = e.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return counts.join(totals, "event_type")


# ---------------------------------------------------------------------------
# agg_hll_drift — approx_count_distinct vs exact audit (declared no-oracle)
# ---------------------------------------------------------------------------

HLL_RSD = 0.05


@query("agg_hll_drift")
def agg_hll_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd={HLL_RSD}) vs exact
    distinct side-by-side per event type, with absolute/relative drift —
    the audit that qualifies the sketch as the 100 TB replacement for
    exact distinct (the agg_percentile_drift pattern applied to
    cardinality). DECLARED no-oracle: DuckDB's approx_count_distinct is
    a different HLL implementation, so no cross-engine hash can exist;
    tests/test_seeds7_properties.py asserts the published HLL++ error
    bound (|err| ≤ ~3·rsd) at two scale factors instead.

    The exact side reuses the bitmap pipeline's count_distinct; both
    sides are map-combined partial aggregates in ONE pass over the
    fact — the sketch's point is that its partial state is constant-
    width where the exact expand's is cardinality-sized.
    """
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_n"),
        F.expr(f"approx_count_distinct(user_id, {HLL_RSD}D)").alias(
            "approx_n"
        ),
    )
    return agg.select(
        "event_type",
        "exact_n",
        "approx_n",
        (F.col("approx_n") - F.col("exact_n")).alias("abs_err"),
        pround(
            F.abs(F.col("approx_n") - F.col("exact_n"))
            / F.col("exact_n"),
            6,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# dq_constraint_report — declarative data-quality expectations
# ---------------------------------------------------------------------------


@query(
    "dq_constraint_report",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'events_value_nonneg', CAST(COUNT(*) AS BIGINT)
    FROM events WHERE value < 0
    UNION ALL
    SELECT 'documents_nchars_consistent', CAST(COUNT(*) AS BIGINT)
    FROM documents WHERE n_chars <> LENGTH(text)
    UNION ALL
    SELECT 'orders_status_domain', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
    UNION ALL
    SELECT 'events_eventid_unique',
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
    FROM events
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (great-expectations-style): six
    declarative constraints — two foreign keys (anti-join counts), a
    range check, a derived-column consistency check, a domain check,
    and a primary-key uniqueness check — evaluated in one report of
    (check_name, violations).

    Every check is a plain DataFrame aggregate, so Catalyst plans each
    with the cheapest strategy at hand (FKs become broadcast/shuffled
    anti-joins with the dim side broadcast when small; the range/domain
    checks are map-side conditional counts). At 100 TB the checks run
    as ONE pass per fact table — the unioned single-row aggregates are
    metadata-sized. A pipeline gates promotion on violations = 0.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    e = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("violations"),
        )

    fk_orders = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti"
    )
    fk_lineitem = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
    checks = [
        one("orders_custkey_fk", fk_orders),
        one("lineitem_orderkey_fk", fk_lineitem),
        one("events_value_nonneg", e.filter(F.col("value") < 0)),
        one(
            "documents_nchars_consistent",
            docs.filter(F.col("n_chars") != F.length("text")),
        ),
        one(
            "orders_status_domain",
            o.filter(~F.col("o_orderstatus").isin("F", "O", "P")),
        ),
    ]
    uniq = e.select(
        F.lit("events_eventid_unique").alias("check_name"),
        (F.count("*") - F.count_distinct("event_id"))
        .cast("bigint")
        .alias("violations"),
    )
    out = checks[0]
    for df in checks[1:] + [uniq]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# profile_table_stats — one-pass multi-column table profiler
# ---------------------------------------------------------------------------

_PROFILE_NUM_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
)
_PROFILE_STR_COLS = ("l_returnflag", "l_linestatus")


def _profile_oracle() -> str:
    parts = []
    for col in _PROFILE_NUM_COLS:
        parts.append(f"""
        SELECT '{col}' AS column_name,
               CAST(COUNT({col}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(MIN({col}) AS BIGINT) AS min_num,
               CAST(MAX({col}) AS BIGINT) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem""")
    for col in _PROFILE_STR_COLS:
        parts.append(f"""
        SELECT '{col}', CAST(COUNT({col}) AS BIGINT),
               CAST(COUNT(DISTINCT {col}) AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               MIN({col}), MAX({col})
        FROM lineitem""")
    return " UNION ALL ".join(parts)


@query("profile_table_stats", oracle=_profile_oracle())
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler over lineitem: per column — non-null
    count, exact distinct count, min/max (numeric columns as exact
    longs, string columns lexically) — the `df.summary()`-grade profile
    a curation pipeline records per shard.

    ALL columns profile in a single groupBy().agg() over ONE scan; the
    multi-column exact count-distincts plan through Catalyst's Expand
    (one shuffle carrying a 7-way tagged union — ~7× the row count but
    map-side partially aggregated; quantity is integral by fixture so
    it profiles as a long). At 100 TB the exact distincts swap to
    approx_count_distinct, collapsing Expand to a plain single-pass agg
    — agg_hll_drift audits exactly that substitution.
    """
    li = load(spark, sf_dir, "lineitem").withColumn(
        "l_quantity", F.col("l_quantity").cast("bigint")
    )
    aggs = []
    for col in _PROFILE_NUM_COLS + _PROFILE_STR_COLS:
        aggs += [
            F.count(col).alias(f"{col}__n"),
            F.count_distinct(F.col(col)).alias(f"{col}__d"),
            F.min(col).alias(f"{col}__mn"),
            F.max(col).alias(f"{col}__mx"),
        ]
    row = li.agg(*aggs)
    stacked = []
    for col in _PROFILE_NUM_COLS:
        stacked.append(
            row.select(
                F.lit(col).alias("column_name"),
                F.col(f"{col}__n").cast("bigint").alias("n_nonnull"),
                F.col(f"{col}__d").cast("bigint").alias("n_distinct"),
                F.col(f"{col}__mn").cast("bigint").alias("min_num"),
                F.col(f"{col}__mx").cast("bigint").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for col in _PROFILE_STR_COLS:
        stacked.append(
            row.select(
                F.lit(col).alias("column_name"),
                F.col(f"{col}__n").cast("bigint").alias("n_nonnull"),
                F.col(f"{col}__d").cast("bigint").alias("n_distinct"),
                F.lit(None).cast("bigint").alias("min_num"),
                F.lit(None).cast("bigint").alias("max_num"),
                F.col(f"{col}__mn").alias("min_str"),
                F.col(f"{col}__mx").alias("max_str"),
            )
        )
    out = stacked[0]
    for df in stacked[1:]:
        out = out.unionAll(df)
    return out


CMS_P = 2147483647  # 2^31 - 1 (Mersenne prime)
CMS_W = 64
CMS_ROWS = ((1_000_003, 17), (999_983, 29), (1_000_033, 47), (999_979, 71))
CMS_PROBES = (0, 1, 2, 3, 4)


# ---------------------------------------------------------------------------
# agg_countmin_sketch — portable mergeable Count-Min sketch
# ---------------------------------------------------------------------------


def _cms_oracle() -> str:
    hashes = " UNION ALL ".join(
        f"SELECT {j} AS j, {a} AS a, {b} AS b"
        for j, (a, b) in enumerate(CMS_ROWS)
    )
    probes = ", ".join(f"({u})" for u in CMS_PROBES)
    return f"""
    WITH h AS ({hashes}),
    counters AS (
      SELECT h.j, ((h.a * e.user_id + h.b) % {CMS_P}) % {CMS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e CROSS JOIN h
      GROUP BY 1, 2
    ),
    probes(user_id) AS (VALUES {probes}),
    est AS (
      SELECT p.user_id,
             MIN(COALESCE(c.cnt, 0)) AS cm_est
      FROM probes p
      CROSS JOIN h
      LEFT JOIN counters c
        ON c.j = h.j
       AND c.bucket = ((h.a * p.user_id + h.b) % {CMS_P}) % {CMS_W}
      GROUP BY 1
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM events WHERE user_id IN ({", ".join(map(str, CMS_PROBES))})
      GROUP BY 1
    )
    SELECT e.user_id,
           CAST(e.cm_est AS BIGINT) AS cm_est,
           CAST(COALESCE(x.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(e.cm_est >= COALESCE(x.n_exact, 0) AS INT) AS overestimates
    FROM est e LEFT JOIN exact x USING (user_id)
    """


@query("agg_countmin_sketch", oracle=_cms_oracle())
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the user_id frequency stream: 4 hash rows ×
    64 buckets of PURE-INTEGER counters (hₐ,ᵦ(u) = ((a·u+b) mod p) mod w
    with fixed constants — portable across engines, unlike xxhash), plus
    point-frequency estimates for 5 probe users with the CM guarantee
    (est ≥ exact) emitted as a checked flag.

    This is the mergeable heavy-hitter state for 100 TB streams: the
    counter table is a fixed 256-cell grid built by ONE map-side-combined
    aggregation (explode ×4 then groupBy — commutative integer sums, so
    partition order is irrelevant and partial sketches merge by
    addition). The probe lookup joins the metadata-sized counter grid
    broadcast-style. DuckDB runs the identical arithmetic, so even the
    sketch ERROR is bit-identical — an oracled sketch, unlike the
    declared-drift HLL/GK audits.
    """
    e = load(spark, sf_dir, "events")
    h = spark.createDataFrame(
        [(j, a, b) for j, (a, b) in enumerate(CMS_ROWS)], "j int, a long, b long"
    )
    # Hot path: the 4 bucket ids are computed INLINE per row and
    # posexploded — whole-stage-codegen arithmetic + one map-combined
    # aggregation, no join at all on the fact side (the crossJoin
    # formulation lives on in the oracle; measured ~2× on the
    # fact-side stage). The tiny BNLJ below touches only the 5-probe ×
    # 4-row × 256-cell metadata grids.
    buckets = F.array(
        *[
            (((F.lit(a) * F.col("user_id") + F.lit(b)) % CMS_P) % CMS_W)
            for a, b in CMS_ROWS
        ]
    )
    counters = (
        e.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.createDataFrame([(u,) for u in CMS_PROBES], "user_id long")
    ctr = counters.select(
        F.col("j").alias("cj"), F.col("bucket").alias("cb"), "cnt"
    )
    est = (
        probes.crossJoin(F.broadcast(h))
        .join(
            F.broadcast(ctr),
            (F.col("cj") == F.col("j"))
            & (
                F.col("cb")
                == ((F.col("a") * F.col("user_id") + F.col("b")) % CMS_P)
                % CMS_W
            ),
            "left",
        )
        .groupBy("user_id")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )
    exact = (
        e.filter(F.col("user_id").isin(*CMS_PROBES))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        est.join(F.broadcast(exact), "user_id", "left")
        .select(
            "user_id",
            F.col("cm_est").cast("bigint"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("bigint")
            .alias("n_exact"),
            (
                F.col("cm_est") >= F.coalesce(F.col("n_exact"), F.lit(0))
            )
            .cast("int")
            .alias("overestimates"),
        )
    )


# ---------------------------------------------------------------------------
# agg_hll_sketch_mergeable — datasketches HLL two-level merge invariance
# ---------------------------------------------------------------------------


HLL_MERGE_REL_BOUND = 0.10  # ≫ 3σ of the lgK=12 default rsd (~1.6 %)


@query(
    "agg_hll_sketch_mergeable",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS INT) AS merged_within_bound,
           CAST(1 AS INT) AS single_within_bound
    FROM events GROUP BY 1
    """,
)
def agg_hll_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL mergeability audit (`hll_sketch_agg` /
    `hll_union_agg` — Spark 4's portable sketch surface): per event
    type, per-day sketches UNIONED up and the single-pass sketch must
    BOTH estimate the true cardinality within the error envelope — the
    property that lets 100 TB rollups keep fixed-width sketch state per
    partition/day and merge upward without re-scanning (the sketch twin
    of agg_bitmap_distinct's exact bitmaps).

    The audited invariant is deliberately the ERROR BOUND, not
    merged == single: the two paths ARE bit-identical while sketches
    stay in sparse mode (sf0.001/sf0.01 fixtures) but diverge once
    promotion to dense HLL happens on different merge orders (observed
    at sf0.1, 1500 users/type — merged 1500 vs single estimates a few
    counts apart). Pinning equality would encode a small-cardinality
    accident as a contract. The 10 % bound is ≫ the published 3σ for
    lgK = 12 (~5 %), so the flags are deterministic at every fixture
    SF; agg_hll_drift audits the actual error magnitude. Both sketch
    passes are map-combined with fixed-width partial state.
    """
    e = load(spark, sf_dir, "events")
    per_day = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_day.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    single = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_single"
        ),
        F.count_distinct("user_id").alias("exact_users"),
    )
    exact = F.col("exact_users").cast("double")
    bound = F.lit(HLL_MERGE_REL_BOUND) * exact
    return merged.join(F.broadcast(single), "event_type").select(
        "event_type",
        F.col("exact_users").cast("bigint"),
        (F.abs(F.col("est_merged") - exact) <= bound)
        .cast("int")
        .alias("merged_within_bound"),
        (F.abs(F.col("est_single") - exact) <= bound)
        .cast("int")
        .alias("single_within_bound"),
    )


# ---------------------------------------------------------------------------
# agg_weighted_median — exact weighted median via cumulative crossing
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price_c,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY price_c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM r
    )
    SELECT l_returnflag,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN price_c END) AS BIGINT)
             AS wmedian_cents
    FROM cum GROUP BY 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of line price weighted by quantity, per
    return flag — the order statistic percentile() cannot express
    (weights ≠ frequencies of distinct rows).

    Pure-integer crossing rule: sort by exact price cents, first price
    where 2·cum_weight ≥ total_weight. Rows tied on price can permute
    within the cumulative sum without changing WHICH PRICE crosses, so
    no unique tiebreak is needed for the reported value — and no float
    appears anywhere. Scale: one l_returnflag partitioning shared by
    both windows + the final aggregate; the 100 TB swap for the full
    sort is the weighted GK sketch, audited the same way as
    agg_percentile_drift.
    """
    li = load(spark, sf_dir, "lineitem")
    r = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    return weighted_median_core(r)


def weighted_median_core(r: DataFrame) -> DataFrame:
    """The integer crossing-rule weighted median over any
    (l_returnflag, price_c, w) frame — factored for the hypothesis
    reference check (tests/test_seeds89_refchecks.py)."""
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("l_returnflag")
    cum = r.select(
        "l_returnflag",
        "price_c",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_c")))
        .cast("bigint")
        .alias("wmedian_cents"),
    )


# ---------------------------------------------------------------------------
# agg_string_agg_ordered — listagg WITHIN GROUP (ORDER BY)
# ---------------------------------------------------------------------------


@query(
    "agg_string_agg_ordered",
    oracle="""
    WITH a AS (
      SELECT user_id,
             STRING_AGG(DISTINCT event_type, ',' ORDER BY event_type)
               AS types_csv
      FROM events GROUP BY user_id
    )
    SELECT user_id, types_csv,
           CAST(LEN(STRING_SPLIT(types_csv, ',')) AS BIGINT) AS n_types
    FROM a
    """,
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (`listagg ... WITHIN GROUP` — new in
    Spark 4): each user's distinct event types as a canonical
    comma-joined sorted string — the deterministic-concatenation form
    every report/export needs (unordered listagg output is
    partition-order-dependent and would never hash-match).

    WITHIN GROUP (ORDER BY) is the SQL-standard way to pin the order;
    DuckDB spells it STRING_AGG(... ORDER BY ...). One user_id shuffle;
    the per-group sort is bounded by the 5-type alphabet. n_types is
    derived from the csv instead of a sibling COUNT(DISTINCT): Spark
    4.1 throws a planner ClassCastException (AttributeReference →
    SortOrder) when listagg-DISTINCT-WITHIN-GROUP shares a SELECT with
    another distinct aggregate — worked around, and the derivation is
    checked by the oracle anyway.
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("la_events")
    return spark.sql(
        """
        WITH a AS (
          SELECT user_id,
                 listagg(DISTINCT event_type, ',')
                   WITHIN GROUP (ORDER BY event_type) AS types_csv
          FROM la_events GROUP BY user_id
        )
        SELECT user_id, types_csv,
               CAST(SIZE(SPLIT(types_csv, ',')) AS BIGINT) AS n_types
        FROM a
        """
    )


# the encrypt→decrypt ROUNDTRIP, not key management.


# ---------------------------------------------------------------------------
# agg_regr_family — native REGR_* aggregate surface
# ---------------------------------------------------------------------------


@query(
    "agg_regr_family",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x,
             CAST({_CENTS_SQL} AS DOUBLE) / 100 AS y
      FROM events
    )
    SELECT event_type,
           CAST(REGR_COUNT(y, x) AS BIGINT) AS n,
           ROUND(REGR_SLOPE(y, x), 4) AS slope,
           ROUND(REGR_INTERCEPT(y, x), 4) AS intercept,
           ROUND(REGR_R2(y, x), 6) AS r2,
           ROUND(REGR_AVGX(y, x), 4) AS avg_x,
           ROUND(REGR_AVGY(y, x), 4) AS avg_y
    FROM c GROUP BY 1
    """,
)
def agg_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native linear-regression aggregate surface (`regr_slope` /
    `regr_intercept` / `regr_r2` / `regr_count` / `regr_avgx/y` — the
    SQL-standard OLS family both engines implement): value-vs-hour
    regression per event type, the one-pass trendline behind
    'does spend drift across the day'.

    Both engines accumulate the same five moments map-side (n, Σx, Σy,
    Σxy, Σx²) — single shuffle of a 5-row state per type. Outputs are
    rounded per §7.5 (the internal double accumulation is
    order-dependent at the ulp level — the zscore-family convention;
    llm_zipf_slope's hand-rolled closed form is the bit-stable
    alternative shape). Cross-checks agg_corr_matrix: r² here
    must equal corr² there.
    """
    e = load(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.hour("ts").cast("double").alias("x"),
        (cents_col(F.col("value")).cast("double") / 100).alias("y"),
    )
    return c.groupBy("event_type").agg(
        F.regr_count("y", "x").cast("bigint").alias("n"),
        pround(F.regr_slope("y", "x"), 4).alias("slope"),
        pround(F.regr_intercept("y", "x"), 4).alias("intercept"),
        pround(F.regr_r2("y", "x"), 6).alias("r2"),
        pround(F.regr_avgx("y", "x"), 4).alias("avg_x"),
        pround(F.regr_avgy("y", "x"), 4).alias("avg_y"),
    )


# ---------------------------------------------------------------------------
# agg_median_mode_syntax — median()/mode() aggregate syntax
# ---------------------------------------------------------------------------


@query(
    "agg_median_mode_syntax",
    oracle=f"""
    WITH c AS (SELECT event_type, {_CENTS_SQL} AS c FROM events)
    SELECT event_type,
           ROUND(MEDIAN(c), 4) AS median_c,
           CAST(MIN(mode_c) AS BIGINT) AS mode_c
    FROM c JOIN (
      SELECT event_type AS et2, MIN(c) AS mode_c FROM (
        SELECT event_type, c, COUNT(*) AS f,
               MAX(COUNT(*)) OVER (PARTITION BY event_type) AS mf
        FROM c GROUP BY event_type, c
      ) WHERE f = mf GROUP BY 1
    ) m ON m.et2 = c.event_type
    GROUP BY 1
    """,
)
def agg_median_mode_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`median()` and `mode()` aggregate SYNTAX surface (Spark 3.4+/4):
    per-type exact interpolated median of integer cents plus a
    deterministic mode.

    median() ≡ percentile(x, 0.5) (agg_percentile proved the DuckDB
    QUANTILE_CONT mapping; halves on integer cents are exact). mode()
    is tie-ambiguous BY SPEC on both engines, so the op pins the
    deterministic variant — Spark's mode(col, false) has
    implementation-defined tie order, and DuckDB's mode picks its own;
    both sides therefore compute min-of-maximal-frequency explicitly
    (Spark via the same window formulation the oracle uses — the
    agg_mode rule), keeping the surface honest
    AND hashable.
    """
    e = load(spark, sf_dir, "events")
    c = e.select("event_type", cents_col(F.col("value")).alias("c"))
    med = c.groupBy("event_type").agg(
        pround(F.median("c"), 4).alias("median_c")
    )
    freq = c.groupBy("event_type", "c").agg(F.count("*").alias("f"))
    mf = freq.select(
        "event_type",
        "c",
        "f",
        F.max("f").over(W.partitionBy("event_type")).alias("mf"),
    )
    mode = (
        mf.filter(F.col("f") == F.col("mf"))
        .groupBy("event_type")
        .agg(F.min("c").cast("bigint").alias("mode_c"))
    )
    return med.join(mode, "event_type")


# ---------------------------------------------------------------------------
# agg_histogram_2d — hour × day-of-week seasonality grid
# ---------------------------------------------------------------------------


@query(
    "agg_histogram_2d",
    oracle=f"""
    SELECT CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D activity histogram: the hour-of-day × ISO-day-of-week count
    and value grid — the heatmap behind load shaping and anomaly
    baselines, and the 2-D companion of ts_seasonal_decompose's 1-D
    effects.

    At most a 7×24 = 168-cell result at ANY corpus size: one
    map-combined aggregation where nearly all reduction happens before
    the shuffle — the canonical 'aggregate early' shape. ISO weekday
    (Mon=1) chosen because Spark's dayofweek() is Sunday-based while
    DuckDB's isodow is Monday-based; weekday()+1 aligns them.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
            cents_col(F.col("value")).alias("c"),
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").cast("bigint").alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# agg_benford_audit — first-digit distribution vs Benford's law
# ---------------------------------------------------------------------------


@query(
    "agg_benford_audit",
    oracle="""
    WITH c AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ), d AS (
      SELECT CAST(SUBSTRING(CAST(cents AS VARCHAR), 1, 1) AS INT)
               AS first_digit
      FROM c
    ), g AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
    SELECT g.first_digit, g.n,
           ROUND(CAST(g.n AS DOUBLE) / t.tot, 6) AS observed_share,
           ROUND(LOG10(1.0 + 1.0 / g.first_digit), 6) AS benford_share
    FROM g CROSS JOIN t
    """,
)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fraud/synthetic-data screen: observed leading-digit shares next to
    the log₁₀(1 + 1/d) expectation.

    Digit extraction is by STRING slicing of the exact cent integers —
    floor(log₁₀) digit math risks ulp flips at powers of ten; the
    decimal string has one spelling on both engines. One map-combined
    9-row histogram, a 1-row total broadcast back; log10 of the nine
    constants 1+1/d is correctly-rounded on both engines.
    """
    o = load(spark, sf_dir, "orders")
    c = o.filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    )
    g = (
        c.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count("*").alias("n"))
    )
    t = g.agg(F.sum("n").alias("tot"))
    return g.crossJoin(F.broadcast(t)).select(
        "first_digit",
        F.col("n").cast("bigint"),
        pround(F.col("n").cast("double") / F.col("tot"), 6).alias(
            "observed_share"
        ),
        pround(F.log10(1.0 + 1.0 / F.col("first_digit")), 6).alias(
            "benford_share"
        ),
    )


# ---------------------------------------------------------------------------
# agg_gini_concentration — Gini coefficient of per-user activity
# ---------------------------------------------------------------------------


@query(
    "agg_gini_concentration",
    oracle=f"""
    WITH u AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, x,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY x, user_id) AS BIGINT) AS i
      FROM u
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r GROUP BY 1
    )
    SELECT event_type, n,
           ROUND((2.0 * six - CAST(n + 1 AS DOUBLE) * sx)
                 / (CAST(n AS DOUBLE) * sx), 6) AS gini
    FROM m
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts per type — 'how
    concentrated is activity among power users', the inequality metric
    behind sampling-quota and abuse thresholds.

    Closed form G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    ascending-ranked counts: all three sums are exact bigints (ranks
    tie-broken by user_id so Σi·xᵢ is identical on both engines — with
    equal x the sum is tie-order-invariant anyway, belt and braces),
    leaving three float ops. One user aggregation, one per-type ranking
    window over user-grain rows, one final 5-row reduce.
    """
    e = load(spark, sf_dir, "events")
    u = e.groupBy("event_type", "user_id").agg(F.count("*").alias("x"))
    return gini_core(u)


def gini_core(u: DataFrame) -> DataFrame:
    """The rank-closed-form Gini over any (event_type, user_id, x)
    frame — factored for the hypothesis reference check."""
    r = u.select(
        "event_type",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("x", "user_id"))
        .cast("bigint")
        .alias("i"),
    )
    m = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint"),
        pround(
            (2.0 * F.col("six") - (F.col("n") + 1).cast("double") * F.col("sx"))
            / (F.col("n").cast("double") * F.col("sx")),
            6,
        ).alias("gini"),
    )


EQUIDEPTH_BUCKETS = 8


# ---------------------------------------------------------------------------
# agg_equidepth_histogram — quantile-bucket (CBO-style) histogram
# ---------------------------------------------------------------------------


@query(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH c AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ), b AS (
      SELECT cents,
             CAST(NTILE({EQUIDEPTH_BUCKETS}) OVER (
               ORDER BY cents, o_orderkey) AS INT) AS bucket
      FROM c
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents,
           CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_distinct
    FROM b GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: 8 quantile buckets of
    near-equal row count with their value bounds and distinct counts —
    the histogram shape cost-based optimizers actually keep (equal-width
    bins, agg_histogram, starve on skewed data; equal-depth bins adapt),
    and the bucket-bound layout a range-partitioner would use.

    ntile over the unique (cents, o_orderkey) order is deterministic on
    both engines. The global ntile implies a total sort — correct for
    the ≤row-count-sized stats sample a CBO collects; the 100 TB path
    replaces ntile with approx_percentile bucket BOUNDS (one pass,
    audited by agg_percentile_drift) and bins by comparison instead.
    """
    o = load(spark, sf_dir, "orders")
    c = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    b = c.select(
        "cents",
        F.ntile(EQUIDEPTH_BUCKETS)
        .over(W.orderBy("cents", "o_orderkey"))
        .cast("int")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
        F.count_distinct("cents").cast("bigint").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# agg_grouping_id_surface — rollup with grouping_id markers
# ---------------------------------------------------------------------------


@query(
    "agg_grouping_id_surface",
    oracle=f"""
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
           CAST(GROUPING(event_type) * 2 + GROUPING(EXTRACT(hour FROM ts))
                AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
    FROM events
    GROUP BY ROLLUP(event_type, EXTRACT(hour FROM ts))
    HAVING COUNT(*) > 0  -- empty-input semantics, see agg_rollup
    """,
)
def agg_grouping_id_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``grouping_id()`` markers on a rollup: every output row carries
    the bitmask saying WHICH level it belongs to (0 = leaf, 1 = per-type
    subtotal, 3 = grand total) — the disambiguator that makes subtotal
    rows machine-readable when NULL is also a legitimate data value
    (agg_rollup leaves that ambiguity in place; this op closes it).

    Spark's grouping_id() ≡ DuckDB's GROUPING(a)·2 + GROUPING(b) for a
    two-column rollup — the oracle spells the bit arithmetic out. Same
    Expand-based single-pass rollup plan as agg_rollup.
    """
    e = load(spark, sf_dir, "events")
    hr = F.hour("ts").cast("int")
    return (
        e.select("event_type", hr.alias("hr"), cents_col(F.col("value")).alias("c"))
        .rollup("event_type", "hr")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("cents"),
        )
        .select("event_type", "hr", "gid", "n", "cents")
    )


# ---------------------------------------------------------------------------
# agg_filter_clause_syntax — SQL-standard FILTER (WHERE ...) aggregates
# ---------------------------------------------------------------------------

_FILTER_SQL = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE value >= 100) AS BIGINT) AS n_big,
           CAST(SUM({_CENTS_SQL}) FILTER (WHERE value >= 100) AS BIGINT)
             AS cents_big,
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE value >= 100)
                AS BIGINT) AS users_big
    FROM events GROUP BY 1
"""


@query("agg_filter_clause_syntax", oracle=_FILTER_SQL)
def agg_filter_clause_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard ``FILTER (WHERE ...)`` aggregate clause — IDENTICAL
    SQL text on both engines (the declarative form of the
    CASE-WHEN-conditional aggregates agg_conditional_family builds by
    hand), including a filtered COUNT(DISTINCT).

    Catalyst compiles FILTER into the aggregate's condition — one
    two-phase hash aggregate, no extra scan per filtered measure
    (the naive one-subquery-per-measure formulation would pay four).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_FILTER_SQL)


# ---------------------------------------------------------------------------
# agg_geomean — geometric mean via log-space aggregation
# ---------------------------------------------------------------------------


@query(
    "agg_geomean",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {_CENTS_SQL} AS c FROM events
      WHERE value > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(EXP(AVG(LN(c))), 2) AS geomean_cents,
           ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 2) AS mean_cents
    FROM c GROUP BY 1
    """,
)
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of positive event values (exp∘avg∘ln — the
    multiplicative average that tames right-skewed spend
    distributions), next to the arithmetic mean for the skew gap.

    The ln/avg/exp pipeline is float by nature: per-element ln is
    correctly-rounded on both engines, the AVG introduces the usual
    summation-order ulp (§7.5 convention — 2 dp on values O(10³-10⁴)
    is a wide guard band; the exact-integer alternative is the product
    overflowing immediately, which is WHY log-space is the scale
    form). Map-combined single aggregate; AM ≥ GM is asserted as a
    property in tests.
    """
    e = load(spark, sf_dir, "events")
    c = e.filter(F.col("value") > 0).select(
        "event_type", cents_col(F.col("value")).alias("c")
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        pround(F.exp(F.avg(F.log("c"))), 2).alias("geomean_cents"),
        pround(F.sum("c").cast("double") / F.count("*"), 2).alias(
            "mean_cents"
        ),
    )


# ---------------------------------------------------------------------------
# agg_try_aggregates — overflow-safe try_sum / try_avg surface
# ---------------------------------------------------------------------------


@query(
    "agg_try_aggregates",
    oracle=f"""
    SELECT CAST(SUM({_CENTS_SQL}) AS BIGINT)
             AS cents_sum,
           ROUND(SUM({_CENTS_SQL})
                 * 1.0 / COUNT(*), 4) AS cents_avg,
           CAST(1 AS INT) AS overflow_is_null
    FROM events
    """,
)
def agg_try_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow-safe TRY aggregates (`try_sum` / `try_avg` — Spark 4's
    NULL-on-overflow variants): the events cent totals through the safe
    path, PLUS a manufactured bigint overflow (two 8·10¹⁸ addends)
    proving try_sum yields NULL instead of aborting the job — the
    aggregate-level counterpart of fn_try_arith's row-level TRY ops,
    and the difference between one poisoned partition failing a 10⁶-
    task job and a NULL you can quarantine.

    The oracle computes the normal sums (no overflow at fixture scale —
    DuckDB sums BIGINT into INT128 and cannot overflow here, which is
    exactly why the overflow probe is engine-side with its flag pinned
    TRUE). try_avg divides after a try_sum-style accumulation; the
    4-dp average uses the portable round.
    """
    e = load(spark, sf_dir, "events")
    c = cents_col(F.col("value"))
    main = e.agg(
        F.try_sum(c).cast("bigint").alias("cents_sum"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "cents_sum",
        (
            F.floor(
                F.col("cents_sum") * 1.0 / F.col("n") * 10**4 + F.lit(0.5)
            )
            / 10**4
        ).alias("cents_avg"),
    )
    big = spark.createDataFrame(
        [(8 * 10**18,), (8 * 10**18,)], "x long"
    )
    probe = big.agg(
        F.try_sum("x").isNull().cast("int").alias("overflow_is_null")
    )
    return main.crossJoin(probe).select(
        "cents_sum", "cents_avg", "overflow_is_null"
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS cnt
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_mktsegment, o_orderpriority, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counts)
    SELECT c_mktsegment, o_orderpriority AS mode_priority, cnt
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) with a deterministic tiebreak: the
    most common order priority per market segment.

    Engine-native ``mode()`` functions break ties arbitrarily — useless
    under a cross-engine hash — so the mode is spelled as count +
    row_number with an explicit (count desc, value) total order: the
    portable form, and also the scalable one (two shuffles, both on
    small group keys; the window partitions carry one row per distinct
    value, not per input row).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    counts = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("cnt"), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


# ---------------------------------------------------------------------------
# Aggregates: exact percentiles, fixed-bin histogram.
# ---------------------------------------------------------------------------


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.50), 4) AS p50,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.90), 4) AS p90,
           ROUND(QUANTILE_CONT(l_quantity, 0.50), 4) AS med_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linearly-interpolated percentiles per return flag.

    Spark's ``percentile`` and DuckDB's ``QUANTILE_CONT`` share the
    same definition (sort, index = q·(n−1), linear interpolation
    between neighbors) and agree bit-for-bit on the fixtures — verified
    before rounding was added. Exact percentiles need the full sorted
    group (one shuffle); at 100 TB the scale path is
    ``approx_percentile`` (t-digest, mergeable map-side) — registered
    as agg_approx_distinct's family — while this operator is the exact
    witness.

    The four price percentiles come from ONE array-argument
    ``percentile`` call: separate calls each build their own per-group
    sort buffer of the full column (4× the state and 4 sorts), while
    the array form buffers and sorts once — measured ~2× faster at
    sf0.1.
    """
    li = load(spark, sf_dir, "lineitem")
    qs = (0.25, 0.50, 0.75, 0.90)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.percentile(
                "l_extendedprice", F.array(*[F.lit(q) for q in qs])
            ).alias("ps"),
            pround(F.percentile("l_quantity", 0.50), 4).alias("med_qty"),
        )
        .select(
            "l_returnflag",
            "n_items",
            *[
                pround(F.col("ps")[i], 4).alias(f"p{int(q * 100)}")
                for i, q in enumerate(qs)
            ],
            "med_qty",
        )
    )


N_HIST_BINS = 10


@query(
    "agg_histogram",
    oracle=f"""
    WITH r AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    )
    SELECT CAST(CASE WHEN hi > lo
                     THEN LEAST(FLOOR((o_totalprice - lo)
                                      / ((hi - lo) / {N_HIST_BINS})),
                                {N_HIST_BINS - 1})
                     ELSE 0 END AS INT) AS bucket,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price,
           {exact_avg_sql(cents_sql("o_totalprice"), 100)} AS avg_price
    FROM orders, r
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of order totals over the observed [min, max]
    range: N_HIST_BINS equal-width buckets, per-bucket count and price
    stats.

    Two-phase: a 1-row global min/max aggregate broadcast-cross-joined
    into the bucketing projection (same 1-row-broadcast shape as
    llm_tfidf_topterms), then one grouped aggregate on the bucket id.
    The bucket expression is pure IEEE-754 arithmetic (subtract, divide,
    floor) so both engines bin identically; the top edge folds into the
    last bucket. At scale: one pass for min/max, one shuffle on ≤10
    keys.
    """
    o = load(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / N_HIST_BINS
    # Degenerate range (all values equal — e.g. a 1-row slice): every
    # row lands in bucket 0 instead of dividing by a zero width.
    bucket = (
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / width),
                F.lit(N_HIST_BINS - 1),
            ),
        )
        .otherwise(0)
        .cast("int")
    )
    return (
        o.crossJoin(F.broadcast(rng))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            pround(F.min("o_totalprice"), 2).alias("min_price"),
            pround(F.max("o_totalprice"), 2).alias("max_price"),
            # exact cents mean (r10 quantization audit); min/max are
            # order-independent selections and stay raw.
            exact_avg(cents_col(F.col("o_totalprice")), 100).alias(
                "avg_price"
            ),
        )
    )


@query("agg_approx_quantile")
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per return flag — the SCALE PATH of
    agg_percentile (no-oracle: sketch internals are engine-specific, so
    the driver gets the rows-only check; the tolerance contract vs the
    exact percentiles is asserted in tests/test_ext_ops.py).

    ``approx_percentile`` builds a bounded-memory Greenwald-Khanna
    sketch per group that merges associatively map-side — at 100 TB the
    exact percentile's full per-group sort buffer is not an option, and
    this is the operator you run instead: one partial-aggregate pass,
    sketch size (here ±1/10000 rank error) independent of group row
    count.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(
                "approx_percentile(l_extendedprice,"
                " array(0.25, 0.5, 0.75, 0.9), 10000)"
            ).alias("ps"),
        )
        .select(
            "l_returnflag",
            "n_items",
            *[
                pround(F.col("ps")[i], 4).alias(f"ap{p}")
                for i, p in enumerate((25, 50, 75, 90))
            ],
        )
    )


@query(
    "agg_grouping_sets_df",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice"), 100)} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    HAVING COUNT(*) > 0  -- empty-input semantics, see agg_rollup
    """,
)
def agg_grouping_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the DataFrame API (``DataFrame.
    groupingSets``, added in Spark 4.0) — the SQL-surface twin is
    agg_grouping_sets (engine/relational.py); this registers the
    programmatic form so neither surface is SQL-only.

    Same physical shape as rollup/cube: one Expand node multiplies each
    input row per grouping set BEFORE the single hash-shuffle, partial
    aggregation combining map-side — no extra pass per set. Subtotal
    rows carry NULL group keys (the fixture's real keys are non-null,
    so NULLs unambiguously mark subtotals for the hash compare).
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("o_totalprice")), 100).alias(
                "sum_price"
            ),
        )
    )


DEC = "DECIMAL(12,2)"


@query(
    "agg_decimal_money",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE)
             AS sum_price,
           CAST(MIN(CAST(l_extendedprice AS {DEC})) AS DOUBLE)
             AS min_price,
           CAST(MAX(CAST(l_extendedprice AS {DEC})) AS DOUBLE)
             AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-semantics probe: money aggregates computed in
    DECIMAL(12,2) — exact cent-level arithmetic, no float summation
    error — proving the engine is not silently double-only (VERDICT r3
    missing #3; the fixtures themselves ship doubles, SURVEY §1.2).

    l_extendedprice values are exact 2-dp quantities (verified: every
    value × 100 is integral), so the double→decimal cast is unambiguous
    on both engines, the decimal SUM is exact integer-cent arithmetic
    (Spark widens to DECIMAL(22,2) internally, no overflow at 100 TB
    row counts), and the final cast back to DOUBLE makes the hash
    representation engine-neutral while preserving the exactness the
    decimal path guarantees.
    """
    li = load(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        li.select("l_returnflag", dec.alias("d"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("d").cast("double").alias("sum_price"),
            F.min("d").cast("double").alias("min_price"),
            F.max("d").cast("double").alias("max_price"),
        )
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             SUM(l_quantity) AS sum_qty,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100 AS sum_price,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(l_discount) / 100 AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, ROUND(sum_qty, 4) AS value
    FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, ROUND(sum_price, 4) AS value
    FROM wide
    UNION ALL
    SELECT l_returnflag, 'avg_disc' AS metric, ROUND(avg_disc, 4) AS value
    FROM wide
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse of `agg_pivot`: a wide per-flag
    pricing aggregate reshaped to long (flag, metric, value) form via
    ``DataFrame.unpivot`` (Spark's native UNPIVOT, one generate node —
    not a self-union that would rescan the aggregate N times; the
    oracle spells the same reshape as UNION ALL over a CTE).

    The aggregate shuffles once on the 3-value flag key; the unpivot
    itself is map-side row expansion, 3× a 3-row frame.

    Determinism by QUANTIZATION: price/discount fold as exact integer
    cents (DECIMAL sum for 100 TB headroom), because a double SUM of
    600k ~1e5-grade prices carries ulp drift larger than the 4-decimal
    rounding grain — the sf0.1 row-order sweep caught sum_price
    flipping ….9498↔.9499 with input order. Quantity is integral, so
    its double sum is exact (< 2^53) as-is.
    """
    li = load(spark, sf_dir, "lineitem")
    cents_p = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    cents_d = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    wide = li.groupBy("l_returnflag").agg(
        pround(F.sum("l_quantity"), 4).alias("sum_qty"),
        pround(F.sum(cents_p).cast("double") / 100, 4).alias("sum_price"),
        pround(
            F.try_divide(
                F.sum(cents_d).cast("double"), F.count("l_discount")
            )
            / 100,
            4,
        ).alias("avg_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )
