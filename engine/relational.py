"""Core relational operators (SURVEY.md §2.A scans/sinks, §2.B
projection/filter, §2.C joins, §2.D aggregations, §2.F sort/limit,
§2.G set ops).

The reference repo declares a batch football-analytics ETL pipeline but
contains no code (/root/reference/README.md:1-2 is its entire surface —
SURVEY.md §0), so each operator here implements the corresponding row of
SURVEY.md §2, Spark-first: declarative DataFrame plans that Catalyst
compiles to pushed-down parquet scans, two-phase hash aggregates,
broadcast/sort-merge joins, and TakeOrderedAndProject (SURVEY.md §4).

Scale notes are inline per operator: the same plans hold at 100 TB because
no operator materializes driver-side state; dimension joins broadcast,
fact-fact joins shuffle on their keys with AQE skew handling.
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import (
    _DAY_SQL,
    cents_col,
    cents_sql,
    day_col,
    exact_avg,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
    portable_round_sql,
    pround,
    revenue_e4_col,
    revenue_e4_sql,
)
from engine.registry import query
from engine.roundtrip import (
    localize,
    roundtrip_verified,
    scratch_database,
    scratch_dir,
)
from engine.session import load


# Shared constants (domains verified in FIXTURES.md).
SHIP_CUTOFF = "2000-09-02"  # inside the 1995..2001 l_shipdate range
HIGH_VALUE = 400_000.0  # o_totalprice threshold; ~20% of orders qualify


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# §2.A — scans, sources, sinks
# ---------------------------------------------------------------------------


@query(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with column projection (SURVEY.md §2.A scan_parquet).

    Catalyst prunes the read schema to the 4 selected columns — the scan
    reads 4 of 11 column chunks, which at 100 TB is the difference between
    scanning ~36 TB and ~100 TB.
    """
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "scan_filter_pushdown",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
    """,
)
def scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushed into the parquet reader (SURVEY.md §2.A).

    ``l_shipdate >= cutoff`` reaches the scan as a PushedFilter, letting
    parquet row-group min/max stats skip whole row groups — verified via
    ``explain`` in tests. At 100 TB with date-sorted files this prunes most
    of the input without reading it.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit(SHIP_CUTOFF).cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


@query(
    "source_csv_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice"), 100)} AS sum_price
    FROM orders GROUP BY 1
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write→read roundtrip (SURVEY.md §2.A).

    Writes a small aggregate to CSV with header, reads it back with an
    explicit schema (never inference in production paths), asserts the
    read-back equals the written rows, and returns the read-back.

    The returned read-back is the same aggregate DuckDB computes on the
    source table, so the oracle compare verifies the whole write→parse
    chain is lossless — the 2-dp portable-rounded doubles serialize as
    shortest-repr text and parse back bit-exactly.
    """
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents sum (r10 quantization audit): a double SUM
            # over unbounded o_totalprice groups is order-dependent at
            # scale — the q9 flapping class.
            exact_sum(cents_col(F.col("o_totalprice")), 100).alias(
                "sum_price"
            ),
        )
    )
    with scratch_dir("csv_") as out:
        agg.write.mode("overwrite").option("header", True).csv(str(out))
        back = spark.read.option("header", True).csv(
            str(out), schema="o_orderpriority string, n_orders bigint, sum_price double"
        )
        return roundtrip_verified(agg, back).orderBy("o_orderpriority")


@query(
    "source_json_roundtrip",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {exact_avg_sql(cents_sql("c_acctbal"), 100)} AS avg_bal
    FROM customer GROUP BY 1
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write→read roundtrip (SURVEY.md §2.A); read-back
    content-asserted against the written rows, and hash-verified
    against DuckDB's same aggregate on the source table — the
    write→parse chain under test end-to-end."""
    agg = (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            # exact cents mean (r10 quantization audit) — SUM/COUNT,
            # not AVG, per the sql_scalar_subquery precedent.
            exact_avg(cents_col(F.col("c_acctbal")), 100).alias("avg_bal"),
        )
    )
    with scratch_dir("json_") as out:
        agg.write.mode("overwrite").json(str(out))
        back = spark.read.json(
            str(out), schema="c_mktsegment string, n_customers bigint, avg_bal double"
        )
        return roundtrip_verified(agg, back).orderBy("c_mktsegment")


@query(
    "sink_partitioned_parquet",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice"), 100)} AS sum_price
    FROM orders
    WHERE YEAR(o_orderdate) = 1998
    GROUP BY 1
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned read (SURVEY.md §2.A).

    The pruned-partition aggregate must equal DuckDB's same aggregate
    over the source with the year predicate — so the oracle compare
    verifies the partitioned write, the directory-derived partition
    values, AND the pruned read end-to-end. Writes orders partitioned
    by order year,
    reads back a single partition — the filter on the partition column is
    resolved from directory names alone (partition pruning, SURVEY.md §4).
    This layout is the 100 TB story: date-partitioned facts let every
    time-bounded query skip irrelevant partitions at planning time.
    """
    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    with scratch_dir("part_") as out:
        # Repartition by the partition column first: without it every task
        # writes a sliver of every year (tasks × years small files — the
        # classic partitioned-write amplification); with it each year's
        # rows land in one task → one well-sized file per partition dir.
        orders.repartition("o_year").write.mode("overwrite").partitionBy(
            "o_year"
        ).parquet(str(out))
        one_year = (
            # Explicit schema on the read-back: an empty source writes
            # no partition dirs, and schema inference would fail where
            # an empty-but-typed frame is the right answer.
            spark.read.schema(orders.schema).parquet(str(out))
            .filter(F.col("o_year") == 1998)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                # exact cents sum (r10 quantization audit)
                exact_sum(cents_col(F.col("o_totalprice")), 100).alias(
                    "sum_price"
                ),
            )
            .orderBy("o_orderstatus")
        )
        return localize(one_year)


# ---------------------------------------------------------------------------
# §2.B — projection / filter / predicates
# ---------------------------------------------------------------------------


@query(
    "project_compute",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 2) AS net_price,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged,
           l_quantity * 2 AS double_qty
    FROM lineitem
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projections with aliases (SURVEY.md §2.B project_compute)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pround(_revenue(), 2).alias("net_price"),
        pround(_revenue() * (1 + F.col("l_tax")), 2).alias("charged"),
        (F.col("l_quantity") * 2).alias("double_qty"),
    )


@query(
    "filter_compound",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE (p_size BETWEEN 10 AND 30)
      AND (p_type IN ('PROMO', 'ECONOMY') OR p_name LIKE '%bolt%')
      AND NOT (p_brand = 'Brand#1')
      AND NULLIF(p_type, 'STANDARD') IS NOT NULL
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND/OR/NOT, BETWEEN, IN, LIKE, IS NULL
    (SURVEY.md §2.B filter_compound).

    Fixtures contain no NULLs (FIXTURES.md invariant 3), so the null-path
    predicate manufactures nulls via NULLIF.
    """
    p = load(spark, sf_dir, "part")
    cond = (
        F.col("p_size").between(10, 30)
        & (F.col("p_type").isin("PROMO", "ECONOMY") | F.col("p_name").like("%bolt%"))
        & ~(F.col("p_brand") == "Brand#1")
        & F.nullif(F.col("p_type"), F.lit("STANDARD")).isNotNull()
    )
    return p.filter(cond).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@query(
    "case_when_coalesce",
    oracle=f"""
    SELECT CASE WHEN o_totalprice > {HIGH_VALUE} THEN 'high'
                WHEN o_totalprice > 200000 THEN 'mid'
                ELSE 'low' END AS band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           COUNT(*) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice"), 100)} AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def case_when_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bands + COALESCE/NULLIF (SURVEY.md §2.B case_when_coalesce)."""
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") > HIGH_VALUE, "high")
        .when(F.col("o_totalprice") > 200_000, "mid")
        .otherwise("low")
        .alias("band")
    )
    status_norm = F.coalesce(
        F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
    ).alias("status_norm")
    return o.groupBy(band, status_norm).agg(
        F.count("*").alias("n_orders"),
        # exact cents sum (r10 quantization audit)
        exact_sum(cents_col(F.col("o_totalprice")), 100).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# §2.C — joins
# ---------------------------------------------------------------------------


@query(
    "join_broadcast_dims",
    oracle=f"""
    SELECT r_name, COUNT(*) AS n_customers,
           {exact_sum_sql(cents_sql("c_acctbal"), 100)} AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dimension join, broadcast both dims (SURVEY.md §2.C).

    nation (25 rows) and region (5 rows) are broadcast explicitly: at
    100 TB the customer side never shuffles — each executor hash-joins its
    local partitions against the broadcast dims (BroadcastHashJoinExec).
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("c_acctbal")), 100).alias("sum_bal"),
        )
    )


@query(
    "join_sortmerge_fact",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {exact_sum_sql(revenue_e4_sql(), 10000)} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_sortmerge_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on the shuffle path (SURVEY.md §2.C join_sortmerge_fact).

    orders⋈lineitem both shuffle on orderkey → sort-merge join. At 100 TB
    this is the canonical co-partitioned join; bucketing both tables on
    orderkey at write time would remove the shuffle entirely, and AQE
    splits skewed orderkeys at runtime.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            # exact 1e-4-unit revenue sum (r10 quantization audit)
            exact_sum(revenue_e4_col(), 10000).alias("revenue"),
        )
    )


@query(
    "join_left_outer",
    oracle=f"""
    SELECT c_custkey, COUNT(o.o_orderkey) AS n_high
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > {HIGH_VALUE}) o
      ON c_custkey = o.o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with pre-filtered right side (SURVEY.md §2.C).

    Every customer has ≥1 order (FIXTURES.md invariant 2), so the right
    side MUST be filtered to high-value orders for the outer path to be
    non-degenerate; COUNT(o_orderkey) is null-safe (counts 0 for
    non-matching customers).
    """
    c = load(spark, sf_dir, "customer")
    high = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > HIGH_VALUE)
    return (
        c.join(high, c.c_custkey == high.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_high"))
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(f.k, o.k) AS custkey,
           CAST(f.k IS NOT NULL AS INT) AS has_f,
           CAST(o.k IS NOT NULL AS INT) AS has_o
    FROM (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') f
    FULL JOIN (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O') o
      ON f.k = o.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer keyset diff between two filtered projections
    (SURVEY.md §2.C join_full_outer)."""
    orders = load(spark, sf_dir, "orders")
    f_side = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("fk"))
        .distinct()
    )
    o_side = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("ok"))
        .distinct()
    )
    j = f_side.join(o_side, f_side.fk == o_side.ok, "full")
    return j.select(
        F.coalesce("fk", "ok").alias("custkey"),
        F.col("fk").isNotNull().cast("int").alias("has_f"),
        F.col("ok").isNotNull().cast("int").alias("has_o"),
    )


@query(
    "join_semi",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > {HIGH_VALUE})
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with ≥1 high-value order (SURVEY.md §2.C)."""
    c = load(spark, sf_dir, "customer")
    high = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > HIGH_VALUE)
    return c.join(
        high, c.c_custkey == high.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > {HIGH_VALUE})
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no high-value order (SURVEY.md §2.C).

    Unfiltered anti would be 0 rows (FKs closed, FIXTURES.md invariant 2),
    hence the o_totalprice filter.
    """
    c = load(spark, sf_dir, "customer")
    high = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > HIGH_VALUE)
    return c.join(
        high, c.c_custkey == high.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cross join: 5×25 region × nation grid (SURVEY.md §2.C)."""
    r = load(spark, sf_dir, "region").select("r_name")
    n = load(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "join_range_theta",
    oracle="""
    SELECT e1.user_id, COUNT(*) AS n_pairs
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    WHERE e1.event_type = 'purchase'
    GROUP BY e1.user_id
    """,
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: events within 10 min after each purchase
    (SURVEY.md §2.C join_range_theta).

    The equi-part (user_id) hash-partitions both sides; the range predicate
    evaluates within each key's partition — so the quadratic blowup is
    bounded per user, not global. At 100 TB, bucketing events by user_id
    keeps this shuffle-free.
    """
    ev = load(spark, sf_dir, "events")
    e1 = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u1"), F.col("ts").alias("ts1")
    )
    e2 = ev.select(F.col("user_id").alias("u2"), F.col("ts").alias("ts2"))
    joined = e1.join(
        e2,
        (F.col("u1") == F.col("u2"))
        & (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.groupBy(F.col("u1").alias("user_id")).agg(
        F.count("*").alias("n_pairs")
    )


@query(
    "join_asof",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: most recent prior (ts <= purchase ts) click per purchase
    (SURVEY.md §2.C join_asof; DuckDB native ASOF JOIN as oracle).

    Spark has no native as-of join, so it is re-planned as a union-tag +
    running ``last(ignorenulls)`` window (SURVEY.md §4 'as-of join
    strategy'): one shuffle on user_id, one sort on ts — same cost shape as
    a sort-merge join, state bounded per partition, scales linearly.

    Tie rule (pinned by tests/test_skewed_keys.py, which manufactures
    tied (user_id, ts) pairs the canonical fixture never has): the
    oracle's ASOF `>=` makes a click AT the purchase's own instant
    visible to it, so the window sorts clicks BEFORE purchases at equal
    ts via the is-purchase secondary key — without it the within-tie
    row order is partition-dependent and the result engine-divergent.
    (Multiple tied clicks are harmless either way: only click_ts is
    emitted, and it equals the shared instant.)
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", (F.col("event_type") == "purchase").cast("int"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    tagged = ev.withColumn(
        "click_ts",
        # NULL-key rows: SQL equality (the oracle's ASOF ON) never
        # matches a NULL user, but a window partition groups all NULLs
        # together — so an anonymous purchase must NOT see anonymous
        # clicks; it keeps its row with a NULL match (LEFT semantics),
        # pinned by the NULL-join-key exact sweep.
        F.when(
            F.col("user_id").isNotNull(),
            F.last(click_ts, ignorenulls=True).over(w),
        ),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "click_ts",
    )


# ---------------------------------------------------------------------------
# §2.D — aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           {exact_sum_sql(cents_sql("l_extendedprice"), 100)}
             AS sum_base_price,
           {exact_sum_sql(
                cents_sql("l_extendedprice")
                + " * (100 - " + cents_sql("l_discount") + ")",
                10000,
             )} AS sum_disc_price,
           {exact_sum_sql(
                cents_sql("l_extendedprice")
                + " * (100 - " + cents_sql("l_discount") + ")"
                + " * (100 + " + cents_sql("l_tax") + ")",
                1000000,
             )} AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           {exact_avg_sql(cents_sql("l_extendedprice"), 100, 4)} AS avg_price,
           {exact_avg_sql(cents_sql("l_discount"), 100, 4)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H-Q1-style pricing summary (SURVEY.md §2.D, §7.1).

    Scan → pushed-down shipdate filter → two-phase hash aggregate on the
    6-value (returnflag, linestatus) key space. Partial aggregation
    map-side reduces 100 TB of lineitem to 6 rows per task before the
    shuffle — the shuffle moves KBs regardless of input size.
    """
    li = load(spark, sf_dir, "lineitem")
    # Money reductions fold exact integers (r10 quantization audit):
    # extendedprice/discount/tax are cent-grain in the fixtures, so the
    # per-row disc price is an exact 1e-4-unit integer and the charge an
    # exact 1e-6-unit integer — the group sums are then independent of
    # addend order (the q9 flapping class). Quantity sums/means stay raw:
    # l_quantity is integer-valued, and a double sum of integers is exact
    # at ANY order until 2^53 (100 TB bound ≈ 6e11 rows × 50 ≈ 3e13).
    ce = cents_col(F.col("l_extendedprice"))
    cd = cents_col(F.col("l_discount"))
    ct = cents_col(F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            exact_sum(ce, 100).alias("sum_base_price"),
            exact_sum(ce * (100 - cd), 10000).alias("sum_disc_price"),
            exact_sum(ce * (100 - cd) * (100 + ct), 1000000).alias(
                "sum_charge"
            ),
            pround(F.avg("l_quantity"), 4).alias("avg_qty"),
            exact_avg(ce, 100, 4).alias("avg_price"),
            exact_avg(cd, 100, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           {exact_sum_sql(cents_sql("l_extendedprice"), 100)} AS sum_price,
           MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped global aggregate (SURVEY.md §2.D agg_global)."""
    return load(spark, sf_dir, "lineitem").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        # exact cents sum (r10 quantization audit)
        exact_sum(cents_col(F.col("l_extendedprice")), 100).alias(
            "sum_price"
        ),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group (SURVEY.md §2.D agg_count_distinct).

    Planned by Spark as expand + two-phase aggregate — distinct state is
    partitioned, never driver-side.
    """
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@query("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (SURVEY.md §2.D, no-oracle:
    HLL estimates are not bit-identical across engines).

    The 100 TB path: approx_count_distinct keeps fixed-size sketch state
    (~KB per group) where exact distinct would shuffle every distinct key.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.05).alias("approx_parts"))
        .orderBy("l_returnflag")
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           COUNT(*) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice"), 100)} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    HAVING COUNT(*) > 0  -- Spark emits NO grouping rows over empty
                         -- input (DuckDB emits the () row with 0);
                         -- only that row can have count 0
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region→nation with GROUPING flags (SURVEY.md §2.D agg_rollup)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count("*").alias("n_orders"),
        # exact cents sum (r10 quantization audit) — the () rollup row
        # folds EVERY order at 100 TB, the worst-case drift group.
        exact_sum(cents_col(F.col("o_totalprice")), 100).alias("revenue"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0  -- empty-input semantics, see agg_rollup
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag × linestatus (SURVEY.md §2.D agg_cube).

    sum_qty stays a raw double SUM (r10 quantization audit: CLEARED) —
    l_quantity is integer-valued, and a double sum of integers is exact
    at any accumulation order until 2^53 (100 TB bound ≈ 3e13 « 9e15).
    """
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("n_rows"),
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, n_name, COUNT(*) AS n_customers,
           {exact_sum_sql(cents_sql("c_acctbal"), 100)} AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
    HAVING COUNT(*) > 0  -- empty-input semantics, see agg_rollup
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL front-end (SURVEY.md §2.D,
    §3.3 — SQL and DataFrame share one logical-plan IR)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("gs_nation")
    # exact cents sum (r10 quantization audit); same SQL shape on both
    # engines, ROUND made portable on the Spark side too.
    return spark.sql(
        portable_round_sql(
            f"""
        SELECT c_mktsegment, n_name, COUNT(*) AS n_customers,
               {exact_sum_sql(cents_sql("c_acctbal"), 100)} AS sum_bal
        FROM gs_customer JOIN gs_nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        """
        )
    )


@query(
    "agg_distinct_rows",
    oracle="""
    SELECT DISTINCT o_custkey, o_orderstatus FROM orders
    """,
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row dedup on a projection (SURVEY.md §2.D agg_distinct_rows)."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderstatus")
        .dropDuplicates(["o_custkey", "o_orderstatus"])
    )


@query(
    "agg_pivot",
    oracle=f"""
    SELECT c_mktsegment,
           {exact_sum_sql(
                "CASE WHEN o_orderstatus = 'F' THEN "
                + cents_sql("o_totalprice") + " END", 100,
           )} AS "F",
           {exact_sum_sql(
                "CASE WHEN o_orderstatus = 'O' THEN "
                + cents_sql("o_totalprice") + " END", 100,
           )} AS "O",
           {exact_sum_sql(
                "CASE WHEN o_orderstatus = 'P' THEN "
                + cents_sql("o_totalprice") + " END", 100,
           )} AS "P"
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue matrix mktsegment × orderstatus (SURVEY.md §2.D).

    Explicit pivot values — at scale, never let Spark run the extra
    distinct job to discover them.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        # exact cents sum (r10 quantization audit); pivot applies the
        # per-value CASE around the quantized column.
        .agg(exact_sum(cents_col(F.col("o_totalprice")), 100))
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4)
             AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. exact interpolated median
    (SURVEY.md §2.D agg_stats)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            pround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            pround(F.var_samp("l_quantity"), 4).alias("var_qty"),
            # Pearson r spelled covar_pop/(σ·σ) under try_divide —
            # algebraically identical to F.corr (1/n factors cancel;
            # the agg_corr_matrix precedent), but a zero-variance group
            # (the zeroed-measures twin) yields NULL instead of Corr's
            # built-in ANSI divide-by-zero abort.
            pround(
                F.try_divide(
                    F.covar_pop("l_quantity", "l_extendedprice"),
                    F.stddev_pop("l_quantity")
                    * F.stddev_pop("l_extendedprice"),
                ),
                4,
            ).alias("corr_qty_price"),
            pround(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
            pround(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
                "median_price"
            ),
        )
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT n_name,
           ARRAY_TO_STRING(LIST_SORT(LIST(s_name)), ',') AS supplier_names
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted collect_list per group (SURVEY.md §2.D agg_collect_sorted).

    collect_list order is nondeterministic → always sort_array
    (SURVEY.md §7.5.5); emitted as a joined string to keep the hashed
    output flat scalars (§7.5.10).
    """
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("s_name"))).alias(
                "supplier_names"
            )
        )
    )


# ---------------------------------------------------------------------------
# §2.F — sort / limit / top-k
# ---------------------------------------------------------------------------


@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with a unique total order (SURVEY.md §2.F, §7.5.4).

    Planned as TakeOrderedAndProject: each partition keeps its local
    top-20, the driver merges — no global sort, no full shuffle. That is
    exactly the 100 TB-safe plan for top-k.
    """
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# §2.G — set operations
# ---------------------------------------------------------------------------


@query(
    "set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two key projections (SURVEY.md §2.G set_union_all)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s)


@query(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct UNION (SURVEY.md §2.G set_union_distinct)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of nation keysets (SURVEY.md §2.G)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customer nations minus supplier nations
    (SURVEY.md §2.G set_except)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT n_name,
           COUNT(*) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice"), 100)} AS sum_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: the manual skew-mitigation pattern, oracle-checked to
    be result-identical to the plain join.

    When one join key dominates (a hot customer, a null bucket), the
    shuffle partition holding it straggles. Salting splits each key into
    ``N_SALT`` sub-keys: the big (probe) side appends a deterministic
    salt ``pmod(hash(row-unique-col), N)``, the small (build) side is
    replicated N ways via an explode — the join key becomes
    (key, salt), so the hot key's rows spread over N partitions. AQE's
    skew-join split covers most cases automatically (and is enabled,
    SURVEY.md §4); salting remains the portable fallback when a single
    *key* (not just a partition) is hot, because AQE cannot split one
    key's hash bucket across joins that need co-location.

    Here orders⋈customer is salted 8 ways (customer replicated ×8), then
    the result joins broadcast nation — the aggregate is over n_name so
    the salt never leaks into the output, and the oracle is the plain
    unsalted SQL join.
    """
    n_salt = 8
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.hash("o_orderkey"), F.lit(n_salt))
    )
    c = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))),
        )
    )
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents sum (r10 quantization audit): the hot key this
            # op exists for is exactly the group whose double sum drifts.
            exact_sum(cents_col(F.col("o_totalprice")), 100).alias(
                "sum_price"
            ),
        )
    )


@query(
    "source_orc_roundtrip",
    oracle=f"""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           {exact_sum_sql(cents_sql("s_acctbal"), 100)} AS sum_bal
    FROM supplier GROUP BY 1
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read roundtrip (SURVEY.md §2.A family). Same contract
    as the CSV/JSON roundtrips over the third columnar format Spark
    ships natively (ORC doubles are stored natively, so the read-back
    hash-matches DuckDB's aggregate bit-exactly)."""
    agg = (
        load(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("s_acctbal")), 100).alias("sum_bal"),
        )
    )
    with scratch_dir("orc_") as out:
        agg.write.mode("overwrite").orc(str(out))
        back = spark.read.orc(str(out))
        return roundtrip_verified(agg, back).orderBy("s_nationkey")


@query(
    "merge_upsert",
    oracle=f"""
    WITH updates AS (
      SELECT o_orderkey,
             o_totalprice * 1.1 AS new_price,
             'P' AS new_status
      FROM orders WHERE o_totalprice > {HIGH_VALUE}
    ), merged AS (
      SELECT COALESCE(u.o_orderkey, o.o_orderkey) AS o_orderkey,
             COALESCE(u.new_price, o.o_totalprice) AS o_totalprice,
             COALESCE(u.new_status, o.o_orderstatus) AS o_orderstatus,
             CASE WHEN u.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS updated
      FROM orders o FULL JOIN updates u ON o.o_orderkey = u.o_orderkey
    )
    SELECT o_orderstatus, updated,
           COUNT(*) AS n_orders,
           {exact_sum_sql(cents_sql("o_totalprice", 3), 1000)} AS sum_price
    FROM merged GROUP BY 1, 2
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style merge/upsert expressed as a full-outer join + coalesce
    (the engine-agnostic MERGE INTO: matched rows take the update's
    values, unmatched keep the base, insert-only updates would surface
    as base-null rows).

    A deterministic update batch (repriced high-value orders) merges
    onto the orders base; the audit aggregate groups by post-merge
    status × updated flag. At scale this is one co-partitioned shuffle
    join on the merge key — the same plan a table format's MERGE
    compiles to, minus its file-level pruning.
    """
    o = load(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_totalprice") > HIGH_VALUE).select(
        F.col("o_orderkey").alias("u_orderkey"),
        (F.col("o_totalprice") * 1.1).alias("new_price"),
        F.lit("P").alias("new_status"),
    )
    merged = o.join(
        updates, F.col("o_orderkey") == F.col("u_orderkey"), "full"
    ).select(
        F.coalesce("new_price", "o_totalprice").alias("o_totalprice"),
        F.coalesce("new_status", "o_orderstatus").alias("o_orderstatus"),
        F.col("u_orderkey").isNotNull().cast("int").alias("updated"),
    )
    return merged.groupBy("o_orderstatus", "updated").agg(
        F.count("*").alias("n_orders"),
        # exact sum (r10 quantization audit) at 1e-3 grain: the repriced
        # rows are 2-dp × 1.1 = exact 3-dp values, so millicents is the
        # coarsest lossless quantization for the merged column.
        exact_sum(cents_col(F.col("o_totalprice"), 3), 1000).alias(
            "sum_price"
        ),
    )


OVERLAP_BIN_SECS = 6 * 3600


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


N_BUCKETS = 8
DPP_YEARS = (1996, 1997)


# ---------------------------------------------------------------------------
# join_bucketed_colocated — shuffle-free sort-merge join via bucketing
# ---------------------------------------------------------------------------


def build_bucketed_join(
    spark: SparkSession, sf_dir: str, db: str
) -> DataFrame:
    """Write orders + lineitem bucketed by the join key into ``db`` and
    return the co-located join aggregate (no cleanup — caller owns the
    database). Shared with tests/test_plans.py, which pins the plan:
    the SMJ reads both bucketed scans with NO Exchange on the join key
    (``SelectedBucketsCount`` in both scans, no
    ``Exchange hashpartitioning(l_orderkey/o_orderkey``).
    """
    # Repartition by the bucket key before the write: bucketed writes
    # emit (tasks × buckets) files otherwise — pre-clustering gives one
    # well-sized file per bucket (same write-amplification guard as
    # sink_partitioned_parquet) and measured ~2× on both the write and
    # the downstream bucket-local join.
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(N_BUCKETS, "o_orderkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(N_BUCKETS, "l_orderkey")
    )
    (
        o.write.bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{db}.orders_b")
    )
    (
        li.write.bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{db}.lineitem_b")
    )
    ob = spark.table(f"{db}.orders_b")
    lb = spark.table(f"{db}.lineitem_b")
    # MERGE hint: at fixture scale the planner would broadcast the small
    # side, hiding exactly the exchange-free bucket-local merge this
    # operator exists to demonstrate; at 100 TB neither side broadcasts
    # and SMJ is what the planner picks unhinted.
    return (
        lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            # exact 1e-4-unit revenue sum (r10 quantization audit)
            exact_sum(
                cents_col(F.col("l_extendedprice"))
                * (100 - cents_col(F.col("l_discount"))),
                10000,
            ).alias("revenue"),
        )
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                          * (100 - CAST(FLOOR(l_discount * 100 + 0.5)
                                        AS BIGINT))) AS DOUBLE)
                 / 10000, 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with BOTH sides pre-bucketed on the join key —
    the physical layout that makes a 100 TB fact-to-fact join cheap:
    each of the N_BUCKETS buckets pairs 1:1 across tables, so the
    sort-merge join runs with no Exchange at all (bucket-local merge;
    plan pinned in tests/test_plans.py via build_bucketed_join).

    At 100 TB this is THE strategy for a recurring big⋈big join:
    pay the layout shuffle once at ingest (bucketBy + sortBy), then
    every subsequent join/agg on the key is exchange-free. A scratch
    database stands in for the warehouse; the result is localized
    before the database and its directory are dropped.
    """
    with scratch_database(spark, "bkt_scratch_") as db:
        return localize(build_bucketed_join(spark, sf_dir, db))


# ---------------------------------------------------------------------------
# join_dpp_prune — dynamic partition pruning over a partitioned fact
# ---------------------------------------------------------------------------


def build_dpp_join(spark: SparkSession, sf_dir: str, out: Path) -> DataFrame:
    """Write orders as a year-partitioned fact under ``out`` and return
    the dim-filtered join aggregate (no cleanup — caller owns the dir).
    Shared with tests/test_plans.py, which pins ``dynamicpruning`` in
    the fact scan's PartitionFilters.
    """
    # Project to the 2 consumed columns before the write: the scratch
    # fact is a join/agg feeder, and writing the full order row would
    # triple the layout bytes for nothing.
    orders = load(spark, sf_dir, "orders").select(
        "o_totalprice", F.year("o_orderdate").alias("o_year")
    )
    (
        orders.repartition("o_year")
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(str(out))
    )
    # Explicit schema: an empty source writes no partition dirs, and
    # schema inference would fail where an empty-but-typed frame is
    # the right answer.
    fact = spark.read.schema(orders.schema).parquet(str(out))
    # Dim with a selective filter: DPP plants the dim's build-side keys
    # as a runtime PartitionFilter on the fact scan, so only the
    # matching year directories are read at all.
    dim = (
        spark.range(1990, 2010)
        .select(F.col("id").cast("int").alias("yr"))
        .filter(F.col("yr").isin(*DPP_YEARS))
    )
    return (
        fact.join(dim, fact.o_year == dim.yr)
        .groupBy("o_year")
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("o_totalprice")), 100).alias(
                "sum_price"
            ),
        )
    )


@query(
    "join_dpp_prune",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100, 2) AS sum_price
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) IN {DPP_YEARS}
    GROUP BY 1
    """,
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a date-partitioned fact joined to a
    filtered dimension reads ONLY the partition directories the dim
    selects — the pruning predicate is injected at runtime from the
    dim's broadcast build side (``dynamicpruningexpression`` in the
    fact scan; pinned in tests/test_plans.py via build_dpp_join).

    At 100 TB this is the difference between scanning 7 years of fact
    and scanning 2: static pruning can't see through a join, DPP can.
    The fact write repartitions by the partition column first (one
    file per year dir — the same write-amplification guard as
    sink_partitioned_parquet). The result is localized before the
    scratch dir is deleted.
    """
    with scratch_dir("dpp_") as out:
        return localize(build_dpp_join(spark, sf_dir, out))


# ---------------------------------------------------------------------------
# set_intersect_all — bag-semantics INTERSECT ALL
# ---------------------------------------------------------------------------


@query(
    "set_intersect_all",
    oracle=f"""
    WITH i AS (
      SELECT user_id, {_DAY_SQL} AS day
      FROM events WHERE event_type = 'click'
      INTERSECT ALL
      SELECT user_id, {_DAY_SQL}
      FROM events WHERE event_type = 'view'
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM i GROUP BY 1
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL via ``DataFrame.intersectAll``: the
    (user, day) multiset of click events ∩ the view multiset — each
    common pair survives min(click-multiplicity, view-multiplicity)
    times — then aggregated per user. Completes the §2.G bag set-op
    surface next to ``set_except_all``.

    Catalyst plans intersectAll as a counted aggregate on the grouping
    key (min of the two per-side counts, replicated) — one shuffle on
    (user_id, day), never a join explosion on duplicate keys. The
    follow-up per-user rollup is a second, strictly smaller shuffle.
    """
    e = load(spark, sf_dir, "events")
    day = day_col().alias("day")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", day)
    views = e.filter(F.col("event_type") == "view").select("user_id", day)
    return (
        clicks.intersectAll(views)
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )


# ---------------------------------------------------------------------------
# Runtime-filter join: semi-join reduction via Spark's injected bloom
# filter.
# ---------------------------------------------------------------------------

_BLOOM_CONFS = {
    # The injection heuristics compare CREATION side size (must be under
    # the threshold — the bloom is built from it) and APPLICATION side
    # scan size (must be over its threshold — pruning must be worth it).
    # The fixture tables are far below the production default of 10 GB
    # application-side, so the thresholds are forced for the witness;
    # at real scale the defaults fire on exactly this plan shape.
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # Large-large regime: broadcast off so the join is the sort-merge
    # a 100 TB fact-fact join would be.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def bloom_confs(spark: SparkSession):
    """Set the bloom-injection thresholds for the duration of a plan's
    resolution AND execution (plans resolve at action time, so the
    restore must not run before the collect). Shared by the registered
    query and the plan test."""
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def bloom_prefilter_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan for join_bloom_prefilter — factored so the plan
    test can explain it (asserting ``might_contain`` on the fact scan)
    without executing."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("l_extendedprice")), 100).alias(
                "revenue"
            ),
        )
    )


@query(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {exact_sum_sql(cents_sql("l.l_extendedprice"), 100)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-fact join accelerated by a runtime bloom filter:
    Catalyst builds a bloom over the filtered orders keys and injects
    ``might_contain`` into the lineitem scan, pruning ~80% of the fact
    rows BEFORE the join shuffle (semi-join reduction).

    This is the scale mechanism for joins where the selective side is
    too big to broadcast but still selective: the only extra cost is a
    ~1 MB bloom aggregate, and the shuffle shrinks by the filter's
    selectivity. Result values are identical to the plain join (the
    bloom only discards rows the join would drop) — the oracle IS the
    plain join. Spark resolves the physical plan at action time, so the
    result is localized (one row per priority group) while the
    thresholds are still set; they are restored after.
    """
    with bloom_confs(spark):
        return localize(bloom_prefilter_frame(spark, sf_dir))


@query(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status
      FROM orders
    ), r AS (
      SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS status FROM orders
    )
    SELECT COALESCE(l.status, '<null>') AS status_key,
           COUNT(*) AS n_orders,
           CAST(COUNT(r.status) AS BIGINT) AS n_plain_matched
    FROM l JOIN r ON l.status IS NOT DISTINCT FROM r.status
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other, unlike plain `=` which drops them — the
    semantics gap that silently loses rows when join keys are nullable.
    Fixtures carry no NULLs (FIXTURES.md invariant 3), so the nullable
    key is manufactured with NULLIF; the n_plain_matched column counts
    what a plain join would have kept, making the dropped-rows delta
    visible in the result itself.

    Catalyst hashes `<=>` like any equi-key (null-safe comparisons are
    valid hash keys), so this stays a hash join — no nested-loop
    fallback at scale.
    """
    o = load(spark, sf_dir, "orders")
    left = o.select(
        "o_orderkey", F.nullif("o_orderstatus", F.lit("P")).alias("status")
    )
    right = (
        o.select(F.nullif("o_orderstatus", F.lit("P")).alias("r_status"))
        .distinct()
    )
    return (
        left.join(right, left["status"].eqNullSafe(right["r_status"]))
        .groupBy(F.coalesce("status", F.lit("<null>")).alias("status_key"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count("r_status").cast("bigint").alias("n_plain_matched"),
        )
    )
