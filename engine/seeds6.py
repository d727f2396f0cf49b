"""Round-6 seed operators — the surface growth VERDICT r4 item 2 named:
DataFrame.melt-style multi-measure unpivot with real nulls, a
sequence-generated calendar dimension joined as a dimension, an
approx-vs-exact percentile drift audit, stratified k-fold splitting, a
MinHash-LSH cross-corpus decontamination pass, plus a Zipf-fit quality
signal, a correlation matrix, hourly seasonality, day-over-day pct
change, a binned interval-overlap join, bag-semantics EXCEPT ALL,
event-type co-occurrence/lift, a weighted moving average, SCD type-2
history building, and per-document n-gram novelty — 15 operators, 14
oracled + 1 declared sketch audit.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: this module must stay import-light (engine.det /
engine.registry / engine.session / engine.splits / engine.vec are leaf
modules) because NEXT round it rotates to the front of the registration
order — anything imported at module scope registers its queries ahead
of ours. Operator modules (llm_ops, lsh_core) are imported lazily
inside function bodies, and oracles that compose their SQL fragments
are deferred callables (resolved by registry.resolve_oracles after all
modules import) — the pattern proven by seeds5 in round 5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import cents_col, cents_sql, exact_avg, exact_avg_sql, exact_sum, exact_sum_sql, pround
from engine.registry import query
from engine.session import load
from engine.splits import SPLIT_CASE_SQL, split_col

K_FOLDS = 5
DECON_THRESHOLD = 0.8
ZIPF_TOP = 200  # tokens per language entering the Zipf fit
OVERLAP_BIN_SECS = 6 * 3600
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
    exactly. Complements agg_unpivot (engine/training_ops.py), which
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
# join_calendar_dim — sequence-generated date dimension joined as a dim
# ---------------------------------------------------------------------------


@query(
    "join_calendar_dim",
    oracle="""
    WITH span AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS mn,
             MAX(CAST(o_orderdate AS DATE)) AS mx
      FROM orders
    ), cal AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 DAY)) AS DATE)
               AS d
      FROM span
    ), day_agg AS (
      SELECT CAST(o_orderdate AS DATE) AS od,
             COUNT(*) AS n_orders,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS day_price_c
      FROM orders GROUP BY 1
    )
    SELECT YEAR(d) AS cal_year,
           QUARTER(d) AS cal_quarter,
           COUNT(DISTINCT d) AS n_days,
           CAST(COALESCE(SUM(n_orders), 0) AS BIGINT) AS n_orders,
           ROUND(CAST(COALESCE(SUM(day_price_c), 0) AS DOUBLE) / 100, 2)
             AS sum_price
    FROM cal LEFT JOIN day_agg ON od = d
    GROUP BY 1, 2
    """,
)
def join_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real calendar dimension generated IN-PLAN with ``sequence``
    (no driver loop, no static file): one scalar aggregate finds the
    orders date span, ``explode(sequence(mn, mx, 1 day))`` emits every
    calendar day, and the dim LEFT-joins the fact so quarters keep
    their full day count even where no orders exist — the property a
    calendar dim exists for and a bare GROUP BY o_orderdate cannot give.

    Scale: the fact is pre-aggregated to day grain first (ONE shuffle
    of orders, ~2k distinct days per 5-year span no matter the corpus
    size), so the calendar join is dimension×dimension — broadcast,
    never a fact-sized shuffle; the left-outer build side is the day
    aggregate (BroadcastHashJoin LeftOuter BuildRight). 100 TB of
    orders changes only the pre-aggregation, not the join.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "od", F.to_date("o_orderdate")
    )
    span = o.agg(F.min("od").alias("mn"), F.max("od").alias("mx"))
    cal = span.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("d")
    )
    day_agg = o.groupBy("od").agg(
        F.count("*").alias("n_orders"),
        # exact cents at both aggregation levels (r10 quantization
        # audit): the day rollup sums BIGINT cents, the quarter rollup
        # re-sums those exact integers.
        F.sum(cents_col(F.col("o_totalprice"))).alias("day_price_c"),
    )
    return (
        cal.join(F.broadcast(day_agg), cal["d"] == day_agg["od"], "left")
        .groupBy(
            F.year("d").alias("cal_year"),
            F.quarter("d").alias("cal_quarter"),
        )
        .agg(
            F.countDistinct("d").alias("n_days"),
            F.coalesce(F.sum("n_orders"), F.lit(0))
            .cast("long")
            .alias("n_orders"),
            pround(
                F.coalesce(
                    F.sum(F.col("day_price_c").cast("decimal(38,0)")),
                    F.lit(0),
                ).cast("double")
                / 100,
                2,
            ).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# llm_kfold_split — stratified k-fold via content-stable hashing
# ---------------------------------------------------------------------------


@query(
    "llm_kfold_split",
    oracle=f"""
    WITH f AS (
      SELECT lang,
             ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '#fold'),
                                1, 2))::BIGINT % {K_FOLDS} AS fold,
             doc_id
      FROM documents
    )
    SELECT lang, fold, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM f GROUP BY 1, 2
    """,
)
def llm_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment ({K_FOLDS} folds), generalizing
    llm_train_test_split's two-way split: fold = first md5 byte of the
    salted doc key mod K. Content-stable (same doc → same fold on every
    run, every engine, any partitioning — rand()/TABLESAMPLE cannot
    give this), stratification is per-language by construction since
    the hash is uniform within each stratum; the '#fold' salt
    decorrelates fold assignment from the train/eval split digit so a
    doc's fold is independent of its split. A full byte (256 values)
    mod 5 keeps bucket skew ≤ 1/256 vs the single hex digit's 4-vs-3
    of 16.

    Scale: one narrow projection + one aggregate on a
    (lang × {K_FOLDS})-value key — embarrassingly parallel; a training
    pipeline filters `fold != i` with a pushable predicate, never
    re-hashing.
    """
    d = load(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#fold"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % K_FOLDS
    )
    return (
        d.select("lang", fold.alias("fold"), "doc_id")
        .groupBy("lang", "fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# events_hourly_profile — hour-of-day seasonality
# ---------------------------------------------------------------------------


@query(
    "events_hourly_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, HOUR(ts) AS hour_of_day,
             COUNT(*) AS n_events, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(n_events) AS n_total FROM h GROUP BY 1
    )
    SELECT h.event_type, hour_of_day, n_events,
           ROUND(sv, 2) AS sum_value,
           ROUND(CAST(n_events AS DOUBLE) / n_total, 4) AS hour_share
    FROM h JOIN t ON h.event_type = t.event_type
    """,
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: activity count,
    value volume, and each hour's share of its type's total — the
    diurnal-shape audit a streaming capacity plan starts from. HOUR()
    is portable under the pinned UTC session zone (§7.5.1; raw
    dayofweek is not, §7.5.7, so the profile keys on hours).

    Scale: one fact aggregate to a ≤ 24×|event_type| grid, then the
    share join is grid×type — both broadcast-sized forever. The share
    divides two exact integers, so ROUND(·,4) is engine-stable.
    """
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sv"))
    t = h.groupBy("event_type").agg(F.sum("n_events").alias("n_total"))
    return h.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        pround(F.col("sv"), 2).alias("sum_value"),
        pround(F.col("n_events").cast("double") / F.col("n_total"), 4).alias(
            "hour_share"
        ),
    )


# ---------------------------------------------------------------------------
# win_pct_change — day-over-day percent change per event type
# ---------------------------------------------------------------------------


@query(
    "win_pct_change",
    oracle="""
    WITH d AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             COUNT(*) AS n_events, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n_events,
           ROUND(sv, 2) AS sum_value,
           ROUND((sv - LAG(sv) OVER w) / NULLIF(LAG(sv) OVER w, 0), 4)
             AS pct_change
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change of per-type daily value volume — the
    time-series derivative surface (lag + ratio) over a calendar-day
    rollup; the first day of each series is NULL by construction
    (nothing to change from), exercising null-propagating arithmetic in
    the window frame.

    Scale: fact → (type × day) rollup first (one shuffle, grid-sized
    result), THEN the lag window over the rollup — windowing the raw
    fact would sort 100 TB; windowing the rollup sorts ~thousands of
    rows per type. (event_type, day) is a unique total order (§7.5.4).
    """
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sv"))
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("sv").over(w)
    return d.select(
        "event_type",
        "day",
        "n_events",
        pround(F.col("sv"), 2).alias("sum_value"),
        # try_divide: a zero-volume previous day is an undefined pct
        # change (NULL), not an ANSI job abort — zero-values exact
        # sweep; oracle NULLIF mirrors it version-proof.
        pround(F.try_divide(F.col("sv") - prev, prev), 4).alias("pct_change"),
    )


# ---------------------------------------------------------------------------
# llm_zipf_slope — Zipf-law fit of the token frequency distribution
# ---------------------------------------------------------------------------


@query(
    "llm_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ), cnt AS (
      SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), rk AS (
      SELECT lang, token, c,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY c DESC, token ASC) AS r
      FROM cnt
    ), v AS (
      SELECT lang, COUNT(*) AS n_vocab FROM cnt GROUP BY 1
    ), f AS (
      SELECT lang, LN(CAST(r AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
      FROM rk WHERE r <= {ZIPF_TOP}
    ), s AS (
      SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM f GROUP BY 1
    )
    SELECT s.lang, v.n_vocab, s.n AS n_fit,
           ROUND((s.n * sxy - sx * sy)
                 / NULLIF(s.n * sxx - sx * sx, 0), 4) AS zipf_slope,
           ROUND((sy - (s.n * sxy - sx * sy)
                       / NULLIF(s.n * sxx - sx * sx, 0) * sx)
                 / s.n, 4) AS intercept
    FROM s JOIN v ON s.lang = v.lang
    """,
)
def llm_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: OLS slope of ln(frequency) on
    ln(rank) over the top-{ZIPF_TOP} token ranks — natural text follows
    slope ≈ −1, so a corpus whose slope drifts far from it (template
    spam: too flat; boilerplate: too steep) fails a standard
    pretraining corpus health check (complements llm_unigram_surprisal,
    which scores documents; this scores the CORPUS).

    The slope is computed from the five summation aggregates in closed
    form — identical arithmetic on both engines rather than each
    engine's own regr_slope implementation, so §7.5.2 rounding is the
    only float concession. Ranks are totally ordered by (count DESC,
    token ASC) — rule §7.5.4.

    Scale: token counting is the canonical map-side-combine aggregate;
    the rank window runs over the vocabulary (≪ corpus, and capped at
    {ZIPF_TOP} rows per language for the fit), and the final regression
    is one tiny aggregate. Nothing downstream of the first shuffle is
    corpus-sized.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    cnt = tok.groupBy("lang", "token").agg(F.count("*").alias("c"))
    rk = cnt.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("lang").orderBy(
                F.col("c").desc(), F.col("token").asc()
            )
        ),
    )
    v = cnt.groupBy("lang").agg(F.count("*").alias("n_vocab"))
    f = rk.filter(F.col("r") <= ZIPF_TOP).select(
        "lang",
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = f.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # try_divide: a single-rank fit (e.g. every doc reduced to one
    # token) has zero x-variance — NULL slope, not an ANSI abort.
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return s.join(F.broadcast(v), "lang").select(
        "lang",
        "n_vocab",
        F.col("n").alias("n_fit"),
        pround(slope, 4).alias("zipf_slope"),
        pround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
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
# join_interval_overlap — binned interval-overlap join
# ---------------------------------------------------------------------------


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, DATE_TRUNC('day', ts) AS day,
             MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT user_id,
             UNNEST(GENERATE_SERIES(
               CAST(FLOOR(EPOCH(s) / {OVERLAP_BIN_SECS}) AS BIGINT),
               CAST(FLOOR(EPOCH(e) / {OVERLAP_BIN_SECS}) AS BIGINT)))
               AS bin
      FROM iv
    )
    SELECT CAST(TO_TIMESTAMP(bin * {OVERLAP_BIN_SECS}) AS TIMESTAMP)
             AS window_start,
           COUNT(*) AS n_intervals,
           COUNT(DISTINCT user_id) AS n_users
    FROM b GROUP BY 1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join by BIN DECOMPOSITION: per-user-day activity
    intervals [first event, last event] are matched to the fixed 6-hour
    window grid they overlap, producing per-window presence counts
    (how many user-days, how many distinct users were active).

    The scale point is HOW the overlap is computed: not a theta-join
    (`a.s < w.end AND w.start < a.e` degenerates to a nested-loop that
    compares every interval to every window), but each interval
    exploding to exactly the bins it covers — `sequence(floor(s/6h),
    floor(e/6h))` — then a hash aggregate on the bin key. Explode
    fan-out is bounded (≤ 5 bins for an intra-day interval), the join
    disappears into a groupBy, and the plan is shuffle-minimal at any
    corpus size. This is the standard binning rewrite for
    interval/range joins (same family as join_range_theta's banded
    form and win_range_interval).
    """
    e = load(spark, sf_dir, "events")
    iv = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    b = iv.select(
        "user_id",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("s") / OVERLAP_BIN_SECS),
                F.floor(F.unix_timestamp("e") / OVERLAP_BIN_SECS),
            )
        ).alias("bin"),
    )
    return b.groupBy("bin").agg(
        F.count("*").alias("n_intervals"),
        F.countDistinct("user_id").alias("n_users"),
    ).select(
        F.timestamp_seconds(F.col("bin") * OVERLAP_BIN_SECS).alias(
            "window_start"
        ),
        "n_intervals",
        "n_users",
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
# llm_decontaminate_lsh — cross-corpus MinHash-LSH decontamination
# ---------------------------------------------------------------------------


def _decon_oracle() -> str:
    """Deferred oracle (resolved after all modules import — the
    lsh_core import is lazy for the same registration-order reason as
    seeds5's _survivors_oracle)."""
    from engine.lsh_core import lsh_sig_bands_ctes

    return f"""
    WITH {lsh_sig_bands_ctes()}, spl AS (
      SELECT doc_id, {SPLIT_CASE_SQL} AS split FROM documents
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_t, b.doc_id AS doc_e
      FROM bands a
      JOIN spl sa ON a.doc_id = sa.doc_id AND sa.split = 'train'
      JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.lang = b.lang
      JOIN spl sb ON b.doc_id = sb.doc_id AND sb.split = 'eval'
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ), flagged AS (
      SELECT DISTINCT doc_t FROM (
        SELECT c.doc_t, c.doc_e, COUNT(*) AS n_common
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.doc_t
        JOIN tok tb ON tb.doc_id = c.doc_e AND tb.token = ta.token
        GROUP BY 1, 2
      ) i
      JOIN sz sa ON i.doc_t = sa.doc_id
      JOIN sz sb ON i.doc_e = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common)
            >= {DECON_THRESHOLD}
    )
    SELECT d.lang,
           COUNT(*) AS n_train,
           CAST(SUM(CASE WHEN f.doc_t IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN f.doc_t IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean
    FROM documents d
    JOIN spl ON d.doc_id = spl.doc_id AND spl.split = 'train'
    LEFT JOIN flagged f ON f.doc_t = d.doc_id
    GROUP BY 1
    """


@query("llm_decontaminate_lsh", oracle=_decon_oracle)
def llm_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination at scale: flag TRAIN documents
    near-duplicate (token Jaccard ≥ {DECON_THRESHOLD}) to ANY EVAL
    document in one MinHash-LSH pass — the banded generalization of
    llm_decontaminate (engine/ext_ops.py, exact 8-gram overlap): band
    hashes are computed ONCE over the union corpus, candidates come
    from a train-bands × eval-bands bucket join (never train × eval
    all-pairs), and only candidate docs get exact bitset verification.

    At 100 TB the eval suites are tiny next to the train corpus, so
    the eval side of the bucket join broadcasts and the whole pass is
    one fact-side shuffle (the signature aggregate) — the same S-curve
    recall contract as every banded operator here, mirrored CTE-for-CTE
    in the DuckDB oracle. Output is the per-language funnel a release
    pipeline records (kept/assayed/dropped).
    """
    from engine.llm_ops import token_arrays
    from engine.lsh_core import (
        N_BANDS,
        _minhash_sig,
        band_rows,
        first_collision_guard,
        jaccard_verify,
    )

    d = load(spark, sf_dir, "documents")
    # Doc-grain ARRAY checkpoint (as in lsh_core.lsh_neardup_pairs):
    # consumers re-explode in-plan, and the verify packs candidate docs
    # only.
    arrs = token_arrays(d).localCheckpoint(eager=True)
    tok = arrs.select("doc_id", "lang", F.explode("toks").alias("token"))
    bands = band_rows(_minhash_sig(tok))
    # split is a pure function of doc_id (engine.splits), so each side
    # derives it locally — no join back to documents for the label.
    split = split_col()
    tr = bands.filter(split == "train").select(
        F.col("doc_id").alias("doc_t"),
        "lang",
        "band",
        "bv",
        F.col("abv").alias("abv_t"),
    )
    ev = bands.filter(split == "eval").select(
        F.col("doc_id").alias("doc_e"),
        "lang",
        "band",
        "bv",
        F.col("abv").alias("abv_e"),
    )
    cand = (
        tr.join(F.broadcast(ev), ["band", "bv", "lang"])
        .filter(
            first_collision_guard(
                F.col("band"),
                lambda i: F.col("abv_t")[i],
                lambda i: F.col("abv_e")[i],
                N_BANDS,
            )
        )
        .select("doc_t", "doc_e")
    )
    tr_docs = d.filter(split == "train")
    flagged = (
        jaccard_verify(cand, arrs, "doc_t", "doc_e", DECON_THRESHOLD)
        .select("doc_t")
        .distinct()
    )
    return (
        tr_docs.join(
            flagged, tr_docs["doc_id"] == flagged["doc_t"], "left"
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.when(F.col("doc_t").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.sum(F.when(F.col("doc_t").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_clean"),
        )
    )


# ---------------------------------------------------------------------------
# set_except_all — bag-semantics EXCEPT ALL (multiplicity arithmetic)
# ---------------------------------------------------------------------------


@query(
    "set_except_all",
    oracle="""
    WITH d AS (
      SELECT l_partkey FROM lineitem WHERE l_quantity > 10
      EXCEPT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    )
    SELECT l_partkey, COUNT(*) AS n_remaining FROM d GROUP BY 1
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set difference via ``DataFrame.exceptAll`` —
    multiplicities subtract (a key appearing 5× in the left and 2× in
    the right survives 3×), which DISTINCT-based ``EXCEPT``
    (set_except, engine/relational.py) cannot express; the remaining
    multiplicities are aggregated for a stable hash.

    Spark plans exceptAll as a ±1 counter aggregate + replication
    (generate), not a join — one shuffle on the key, the same shape a
    hand-written count-and-subtract would give, and the idiom a
    retraction/compaction pipeline uses at scale.
    """
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 10).select("l_partkey")
    b = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return (
        a.exceptAll(b)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_remaining"))
    )


# ---------------------------------------------------------------------------
# events_cooccurrence — event-type co-occurrence + lift
# ---------------------------------------------------------------------------


@query(
    "events_cooccurrence",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day, event_type
      FROM events
    ), tot AS (
      SELECT COUNT(*) AS n_ud
      FROM (SELECT DISTINCT user_id, DATE_TRUNC('day', ts) FROM events)
    ), singles AS (
      SELECT event_type, COUNT(*) AS n_t FROM ud GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM ud a
      JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
                AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) * n_ud / (sa.n_t * sb.n_t), 4)
             AS lift
    FROM pairs
    JOIN singles sa ON type_a = sa.event_type
    JOIN singles sb ON type_b = sb.event_type
    CROSS JOIN tot
    """,
)
def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over user-days: for each unordered
    event-type pair, how many user-days saw both, and the lift
    P(a∧b)/(P(a)·P(b)) — lift > 1 marks behaviorally coupled events
    (the association-rule screen behind "users who X also Y").

    The pair join is keyed on (user_id, day) whose per-key group is
    bounded by the EVENT-TYPE ALPHABET (≤ 5 distinct types per
    user-day after the DISTINCT), so the self-join fan-out is ≤ C(5,2)
    per user-day at any corpus size — bounded like the bin explode of
    join_interval_overlap, never quadratic in events. Lift arithmetic
    is integers-then-one-division, stable under §7.5.2 rounding.
    """
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day"), "event_type"
    ).distinct()
    tot = ud.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_ud")
    )
    singles = ud.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = ud.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = ud.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("na")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            pround(
                F.col("n_ab").cast("double")
                * F.col("n_ud")
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# win_weighted_ma — linearly-weighted trailing moving average
# ---------------------------------------------------------------------------


@query(
    "win_weighted_ma",
    oracle="""
    WITH d AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, ROUND(sv, 2) AS sum_value,
           ROUND((3 * sv
                  + COALESCE(2 * LAG(sv, 1) OVER w, 0)
                  + COALESCE(LAG(sv, 2) OVER w, 0))
                 / (3 + CASE WHEN LAG(sv, 1) OVER w IS NULL THEN 0
                             ELSE 2 END
                      + CASE WHEN LAG(sv, 2) OVER w IS NULL THEN 0
                             ELSE 1 END), 4) AS wma3
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def win_weighted_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted trailing 3-day moving average (weights 3/2/1,
    most-recent-heaviest) of per-type daily volume — the recency-biased
    smoother between the flat frame average (win_moving_avg) and a true
    EWMA (whose infinite recursion no window frame expresses); series
    edges renormalize over the weights actually present instead of
    zero-padding the missing days.

    Scale: same day-grain-rollup-first discipline as win_pct_change —
    the lag window runs over the (type × day) grid, never the raw
    fact; explicit LAG columns (not a weighted frame aggregate, which
    Spark lacks) keep it one Window node, one sort of the grid.
    """
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum("value").alias("sv"))
    w = W.partitionBy("event_type").orderBy("day")
    l1, l2 = F.lag("sv", 1).over(w), F.lag("sv", 2).over(w)
    num = (
        3 * F.col("sv")
        + F.coalesce(2 * l1, F.lit(0.0))
        + F.coalesce(l2, F.lit(0.0))
    )
    den = (
        F.lit(3)
        + F.when(l1.isNull(), 0).otherwise(2)
        + F.when(l2.isNull(), 0).otherwise(1)
    )
    return d.select(
        "event_type",
        "day",
        pround(F.col("sv"), 2).alias("sum_value"),
        pround(num / den, 4).alias("wma3"),
    )


# ---------------------------------------------------------------------------
# merge_scd2_versions — slowly-changing-dimension type-2 build
# ---------------------------------------------------------------------------


@query(
    "merge_scd2_versions",
    oracle="""
    WITH d AS (
      SELECT user_id, DATE_TRUNC('day', ts) AS day,
             ARG_MAX(value, event_id) AS closing_value,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           day AS valid_from,
           LEAD(day) OVER w AS valid_to,
           ROW_NUMBER() OVER w AS version_no,
           CAST(CASE WHEN LEAD(day) OVER w IS NULL THEN 1 ELSE 0 END
                AS INT) AS is_current,
           n_events,
           ROUND(closing_value, 2) AS closing_value
    FROM d
    WINDOW w AS (PARTITION BY user_id ORDER BY day)
    """,
)
def merge_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each user-day
    becomes a version row with [valid_from, valid_to) validity derived
    from the NEXT version's start (open-ended + is_current flag on the
    latest) and the day's closing attribute value — the standard
    warehouse pattern for turning an event stream into an as-of-joinable
    dimension history (join_asof consumes exactly this shape).

    ``max_by(value, event_id)`` picks the day's closing value by the
    unique event_id order (ts increases with event_id — FIXTURES.md
    invariant 4), deterministic on both engines (DuckDB ``arg_max``).
    Scale: one fact shuffle to (user, day) grain, then lead/row_number
    over each user's day spine — per-user state is days, not events.
    """
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.expr("max_by(value, event_id)").alias("closing_value"),
        F.count("*").alias("n_events"),
    )
    w = W.partitionBy("user_id").orderBy("day")
    nxt = F.lead("day").over(w)
    return d.select(
        "user_id",
        F.col("day").alias("valid_from"),
        nxt.alias("valid_to"),
        F.row_number().over(w).alias("version_no"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
        "n_events",
        pround(F.col("closing_value"), 2).alias("closing_value"),
    )


# ---------------------------------------------------------------------------
# llm_ngram_novelty — first-occurrence novelty share per document
# ---------------------------------------------------------------------------


def _novelty_oracle() -> str:
    """Deferred oracle — pipeline_ops is imported lazily for the shared
    shingle CTE (same registration-order reason as _decon_oracle)."""
    from engine.pipeline_ops import _SHINGLE_SQL

    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    first_seen AS (
      SELECT token, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
    )
    SELECT sh.doc_id, sh.lang,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0
                           END) AS DOUBLE) / COUNT(*), 4) AS novelty
    FROM sh JOIN first_seen ON sh.token = first_seen.token
    GROUP BY 1, 2
    """


@query("llm_ngram_novelty", oracle=_novelty_oracle)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct character
    5-gram shingles whose GLOBAL first occurrence (min doc_id — the
    deterministic survivor rule) is this document. Low-novelty
    documents are recombinations of earlier content — the
    memorization/contamination screen that catches template farms exact
    dedup misses and near-dup thresholds pass.

    Scale (r15, skew-safe): a token's first occurrence contributes to
    exactly ONE document's novel count (its min doc_id), so n_novel
    never needs the global min joined back onto occurrence rows at all:
    ``groupBy(token).min(doc_id)`` (map-combinable partial min — a
    boilerplate shingle present in every document collapses to one row
    per map partition BEFORE the exchange) → ``groupBy(doc_id).count``
    over the vocab-grain result. The r14 window-min form
    (``min(doc_id) over (partition by token)``) was one shuffle fewer
    locally but put every occurrence of a hot shingle into ONE
    unsplittable window partition — window partitions have no partial
    aggregation and AQE cannot split them, so one shingle present in
    10⁹ docs at 100 TB is a single straggler task (VERDICT r14 item 1).
    The denominator never leaves doc grain: n_shingles is
    ``size(toks)`` of the same checkpointed shingle-array frame the
    explode consumes, so no occurrence-sized shuffle exists anywhere in
    the query — the only occurrence-sized structure is the exchange
    INPUT of the token partial-min, which partial aggregation
    compresses to ~vocab × partitions rows on the wire.

    The doc-grain array frame is checkpointed ONCE (the lsh_core
    tok_arrays pattern; 15.1 MB at sf0.1) and both branches read it: a
    first spelling computed the O(len·C) shingle-array expression
    TWICE (once per branch), which measured 3.2 s vs the window form's
    1.26 s in adjacent fast-host runs — the double construction, not
    the aggregate shape, was the cost.
    """
    from engine.pipeline_ops import char_shingle_arrays

    d = load(spark, sf_dir, "documents")
    arrs = char_shingle_arrays(d).localCheckpoint(eager=True)
    # Tokens whose GLOBAL first occurrence is this doc, counted per doc:
    # two map-combinable aggregates, no join back to occurrence rows.
    novel = (
        arrs.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    totals = arrs.select(
        "doc_id", "lang", F.size("toks").cast("long").alias("n_shingles")
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_shingles",
        n_novel.alias("n_novel"),
        pround(
            n_novel.cast("double") / F.col("n_shingles"), 4
        ).alias("novelty"),
    )
