"""TPC-H analogs (``q<N>_`` queries, Q2-Q22) over the fixture schema.

Schema adaptations (FIXTURES.md; dates span ≈1997-2001):
- there is no partsupp table, so supply relationships derive from
  lineitem's (l_partkey, l_suppkey) pairs, with unit cost
  MIN(l_extendedprice / l_quantity);
- there is no shipmode, commitdate or receiptdate, so lateness (Q4,
  Q12, Q21) is ship-vs-order-date;
- there is no o_comment, so Q13's exclusion predicate is an
  order-priority class; orders carry o_orderpriority, not
  o_shippriority (Q3).

Determinism (SURVEY.md §7.5): counts are exact; l_quantity is
integral-valued, so quantity sums and averages are exact in f64 and
thresholds derived from them (Q11's share, Q17's 0.5×avg, Q18, Q20's
quantity floor) compare bit-stably; money sums run in exact integer
units (engine.det exact_sum over cents or 1e-4 revenue units); Q2
orders by a per-pair MIN of one IEEE division (selection, not
summation) with a suppkey tiebreak; ratios go through the portable
round.

Scale notes: the plans are star joins. Selective dimension filters
reach the parquet scans, the small dimensions broadcast, and the one
fact-fact shuffle (orders⋈lineitem on orderkey) is the backbone; AQE
handles the rest. Top-k results plan as TakeOrderedAndProject, with no
global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import (
    cents_col,
    cents_sql,
    exact_sum,
    exact_sum_sql,
    pround,
    revenue_e4_col,
    revenue_e4_sql,
)
from engine.registry import query
from engine.session import load

Q2_REGION = "EUROPE"
Q2_SIZE_MAX = 10  # p_size <= bound keeps the result dimension-sized
Q3_CUTOFF = "1999-07-01"
Q4_Q_START = "1998-01-01"
Q4_Q_END = "1998-04-01"
Q4_LATE_DAYS = 60
Q5_YEAR = 1998
Q6_YEAR = 1998
Q6_DISC_LO = 0.05
Q6_DISC_HI = 0.07
Q6_QTY_MAX = 24.0
Q7_NATIONS = ("NATION_3", "NATION_7")
Q8_REGION = "AMERICA"
Q8_NATION = "NATION_3"  # the nation whose market share is measured
Q8_TYPE = "PROMO"
Q10_FROM = "1999-01-01"
Q10_TO = "1999-07-01"
Q11_NATION = "NATION_7"
Q11_FRACTION = 0.002  # share-of-total threshold on supplied quantity
Q12_LATE_DAYS = 30
Q13_EXCLUDED_PRIORITY = "1-URGENT"
Q14_START, Q14_END = "1999-01-01", "1999-04-01"
Q15_Q_START = "1998-01-01"
Q15_Q_END = "1998-04-01"
Q16_EXCLUDED_BRAND = "Brand#1"
Q17_FRACTION = 0.5
Q18_QTY_THRESHOLD = 250.0  # ≈ top 1.5% of orders by total quantity
Q20_YEAR = 1998
Q20_MIN_QTY = 60.0  # ≈ p99 of per-(supp,part) yearly quantity at sf0.01
Q21_LATE_DAYS = 60
Q22_CUTOFF = "2000-01-01"


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ), regional AS (
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = '{Q2_REGION}'
    ), ranked AS (
      SELECT p.p_partkey, p.p_brand, p.p_type,
             g.s_suppkey, g.s_name, g.n_name, sp.unit_cost,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_partkey
               ORDER BY sp.unit_cost, g.s_suppkey) AS rn
      FROM part p
      JOIN supply sp ON sp.l_partkey = p.p_partkey
      JOIN regional g ON g.s_suppkey = sp.l_suppkey
      WHERE p.p_size <= {Q2_SIZE_MAX}
    )
    SELECT p_partkey, p_brand, p_type, s_suppkey, s_name, n_name,
           ROUND(unit_cost, 2) AS unit_cost
    FROM ranked WHERE rn = 1
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog (minimum-cost supplier): for each small part, the
    cheapest {Q2_REGION} supplier by observed unit cost (fixture has no
    partsupp — supply pairs and their cost come from lineitem).

    Plan shape: the lineitem aggregate shuffles once on (partkey,
    suppkey) — at 100 TB that is the only data-sized exchange. The
    supplier⋈nation⋈region pruned dimension broadcasts into it, part
    broadcasts with the p_size predicate pushed to its scan, and the
    per-part argmin is a window over the already partkey-clustered
    aggregate. The tiebreak (unit_cost, then suppkey) makes the winner
    deterministic: MIN of a single division is value-selection, exact
    on both engines.
    """
    supply = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            # try_divide: a zero-quantity line (fully returned/cancelled)
            # must yield a NULL unit cost MIN skips, not an ANSI abort;
            # the oracle's NULLIF denominator makes that NULL explicit
            # instead of relying on DuckDB-1.0.0's NULL-on-div0 default
            # (ADVICE r6: newer duckdb yields inf there).
            F.min(
                F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
            ).alias("unit_cost")
        )
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    regional = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "n_name")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= Q2_SIZE_MAX)
    rn = F.row_number().over(
        W.partitionBy("p_partkey").orderBy("unit_cost", "s_suppkey")
    )
    return (
        supply.join(F.broadcast(regional), supply["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(p), supply["l_partkey"] == p["p_partkey"])
        .select(
            "p_partkey",
            "p_brand",
            "p_type",
            "s_suppkey",
            "s_name",
            "n_name",
            "unit_cost",
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_brand",
            "p_type",
            "s_suppkey",
            "s_name",
            "n_name",
            pround(F.col("unit_cost"), 2).alias("unit_cost"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {exact_sum_sql(revenue_e4_sql("l."), 10000)} AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
      AND l.l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: top-10 unshipped-revenue orders for one market
    segment — customer⋈orders⋈lineitem with filters on all three
    inputs, grouped revenue, ordered take-10.

    The segment and date predicates are applied *before* the joins so
    pushdown prunes the scans; customer (filtered, tiny) broadcasts;
    orders⋈lineitem shuffles on the orderkey; the LIMIT plans as
    TakeOrderedAndProject (per-partition top-10 then merge — no global
    sort). Unique total order via the orderkey tiebreak (SURVEY §7.5.4).
    """
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(f"{Q3_CUTOFF} 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(f"{Q3_CUTOFF} 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        # exact 1e-4-unit revenue sum (r10 quantization audit) — also
        # makes the top-10 membership itself order-stable.
        .agg(exact_sum(revenue_e4_col(), 10000).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q4_order_priority",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{Q4_Q_START} 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{Q4_Q_END} 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog (order-priority checking): orders placed in one
    quarter having at least one line shipped more than {Q4_LATE_DAYS}
    days after the order date (the fixture's lateness signal — there is
    no commit/receipt date), counted by priority.

    The EXISTS compiles to a left-semi hash join on orderkey with the
    lateness predicate as a join residual; the quarter filter is pushed
    into the orders scan, and the lineitem side carries the *derived*
    pushable bound shipdate > quarter_start + {Q4_LATE_DAYS}d (implied
    by the correlated predicate: a line late for a quarter order must
    ship after the quarter opened plus the lateness window), so BOTH
    fact scans prune before the join. Two columns read from each side
    at 100 TB.
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_Q_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q4_Q_END).cast("timestamp"))
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .filter(
            F.col("l_shipdate")
            > F.lit(Q4_Q_START).cast("timestamp")
            + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAY")
        )
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAY")
    )
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey")) & late,
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {exact_sum_sql(revenue_e4_sql("l."), 10000)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '{Q5_YEAR}-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{Q5_YEAR + 1}-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: revenue from orders where the supplier is in the
    customer's own nation, per nation of one region and one order year —
    the six-table star join (customer, orders, lineitem, supplier,
    nation, region).

    region/nation/supplier are broadcast dimensions (region pre-filtered
    to one row); the local-supplier condition (c_nationkey =
    s_nationkey) rides on the lineitem⋈supplier broadcast join rather
    than forcing an extra shuffle; the only large shuffle is
    orders⋈lineitem. The year predicate prunes the orders scan.
    """
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{Q5_YEAR}-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{Q5_YEAR + 1}-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        # exact 1e-4-unit revenue sum (r10 quantization audit)
        .agg(exact_sum(revenue_e4_col(), 10000).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {exact_sum_sql(
                cents_sql("l_extendedprice")
                + " * " + cents_sql("l_discount"),
                10000,
           )} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q6_YEAR}-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '{Q6_YEAR + 1}-01-01 00:00:00'
      AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
      AND l_quantity < {Q6_QTY_MAX}
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog (forecasting revenue change): the would-be
    revenue delta of eliminating a discount band for small quantities in
    one year — a pure scan-filter-aggregate with THREE pushable
    predicates and a two-column read schema. The simplest query here,
    and the purest pushdown benchmark: at 100 TB the entire query is a
    parquet scan with row-group pruning and a partial-sum reduce.
    """
    li = load(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit(f"{Q6_YEAR}-01-01").cast("timestamp"))
        & (
            F.col("l_shipdate")
            < F.lit(f"{Q6_YEAR + 1}-01-01").cast("timestamp")
        )
        & F.col("l_discount").between(Q6_DISC_LO, Q6_DISC_HI)
        & (F.col("l_quantity") < Q6_QTY_MAX)
    )
    return f.agg(
        # exact 1e-4-unit sum (r10 quantization audit): cents(price) ×
        # cents(discount) = price·discount in exact 1e-4 units.
        exact_sum(
            cents_col(F.col("l_extendedprice"))
            * cents_col(F.col("l_discount")),
            10000,
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {exact_sum_sql("volume", 10000)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
             {revenue_e4_sql("l.")} AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('{Q7_NATIONS[0]}', '{Q7_NATIONS[1]}')
        AND n2.n_name IN ('{Q7_NATIONS[0]}', '{Q7_NATIONS[1]}')
        AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: bilateral trade volume between two nations per
    ship year — the supplier's nation on the lineitem side against the
    customer's nation on the orders side.

    Both nation dimensions are pre-filtered to the two probe nations
    BEFORE their joins (each a 2-row broadcast), which turns the
    supplier and customer joins into semi-join-like reductions; the
    inequality (supp ≠ cust) is the only cross-dimension residual. The
    orders⋈lineitem orderkey shuffle is the backbone, as in Q3/Q5 —
    everything else broadcasts. Year extraction stays JVM-side.
    """
    pair = list(Q7_NATIONS)
    n1 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    n2 = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(
            F.col("n_nationkey").alias("n2_nationkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        s.join(F.broadcast(n1), s["s_nationkey"] == n1["n_nationkey"])
        .join(li, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_nationkey"))
        .filter(F.col("n_name") != F.col("cust_nation"))
        .select(
            F.col("n_name").alias("supp_nation"),
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            # exact 1e-4-unit revenue (r10 quantization audit)
            revenue_e4_col().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(exact_sum(F.col("volume"), 10000).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             {revenue_e4_sql("l.")} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = '{Q8_REGION}' AND p.p_type = '{Q8_TYPE}'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                          THEN volume ELSE 0 END) AS DOUBLE)
                 / NULLIF(CAST(SUM(volume) AS DOUBLE), 0), 4)
             AS mkt_share,
           {exact_sum_sql("volume", 10000)} AS total_volume
    FROM vol GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog (national market share): {Q8_NATION}'s share of
    {Q8_REGION}-market revenue for {Q8_TYPE} parts, per order year.

    Star-join scale shape: every dimension (part pruned on type,
    customer⋈nation⋈region pruned on region, supplier⋈nation) broadcasts;
    lineitem⋈orders is the one data-sized join, on the orderkey both
    facts can be bucketed by. The conditional-sum ratio folds into one
    partial-aggregate pass over bounded (year) keys — q14's convention
    (portable-rounded ratio) makes the double division comparable.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    s = load(spark, sf_dir, "supplier")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"),
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    cust_region = (
        c.join(F.broadcast(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(F.broadcast(r), n1["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n2), s["s_nationkey"] == F.col("n2_key")
    ).select("s_suppkey", "supp_nation")
    # exact 1e-4-unit revenue (r10 quantization audit); the scale
    # cancels in the share ratio, total divides once at the end.
    vol = revenue_e4_col()
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust_region), o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return joined.groupBy("o_year").agg(
        pround(
            # try_divide: a zero-volume year is an undefined share, not
            # an ANSI abort (zero-values exact sweep).
            F.try_divide(
                F.sum(
                    F.when(F.col("supp_nation") == Q8_NATION, F.col("volume"))
                    .otherwise(F.lit(0).cast("bigint"))
                    .cast("decimal(38,0)")
                ).cast("double"),
                F.sum(F.col("volume").cast("decimal(38,0)")).cast("double"),
            ),
            4,
        ).alias("mkt_share"),
        exact_sum(F.col("volume"), 10000).alias("total_volume"),
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
           ROUND(CAST(SUM(
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT))
             - CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) * 10
           ) AS DOUBLE) / 10000, 2) AS sum_profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (product-type profit): per supplier nation and
    order year, revenue minus a supply-cost proxy (10% of retail price —
    the fixtures carry no partsupp table, FIXTURES.md) over parts whose
    name contains 'bolt'.

    The selective part filter is applied BEFORE the join and the
    filtered part/supplier/nation dims all broadcast; only the
    lineitem→orders join shuffles. Year extraction is UTC on both
    engines. This is the canonical many-dim star join: at 1000
    executors, one fact shuffle, zero dim shuffles.

    Determinism by QUANTIZATION: the per-row profit is computed in
    exact integer 1e-4 units (prices/discounts are cent/percent-grain
    in the fixtures, quantity integral) and summed as DECIMAL, so the
    group sum is independent of addend order. A double SUM here sat on
    a half-ulp rounding boundary — the row-order sweep caught
    NATION_19/1999 flipping 884066.73↔.74 with input row order, the
    flapping-result class a single-run test can never see.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))

    def _cents100(c: str) -> F.Column:
        return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint")

    # exact 1e-4-unit integer profit; DECIMAL(38,0) sum headroom:
    # ~1e9 units/row × 1e12 rows at 100 TB ≈ 1e21, far under 1e38
    # (a BIGINT sum would overflow at that scale).
    profit_e4 = (
        _cents100("l_extendedprice") * (100 - _cents100("l_discount"))
        - _cents100("p_retailprice") * F.col("l_quantity").cast("bigint") * 10
    ).cast("decimal(38,0)")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            pround(
                F.sum(profit_e4).cast("double") / 10000, 2
            ).alias("sum_profit")
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {exact_sum_sql(revenue_e4_sql("l."), 10000)} AS revenue,
           ROUND(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '{Q10_FROM} 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{Q10_TO} 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog (returned-item reporting): top-20 customers by
    revenue lost to returns in one half-year window.

    The two selective predicates (return flag, date range) are on
    different fact tables and both reach their parquet scans; the
    orders⋈lineitem shuffle is the backbone, customer and nation
    broadcast, and the top-20 plans as TakeOrderedAndProject. The
    classic returned-item report.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{Q10_FROM} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{Q10_TO} 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        # exact 1e-4-unit revenue sum (r10 quantization audit) — also
        # stabilizes the top-20 membership.
        .agg(exact_sum(revenue_e4_col(), 10000).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            pround(F.col("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q11_important_stock",
    oracle=f"""
    WITH supplied AS (
      SELECT l.l_partkey, SUM(l.l_quantity) AS qty
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = '{Q11_NATION}'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(qty AS BIGINT) AS supplied_qty
    FROM supplied
    WHERE qty > {Q11_FRACTION} * (SELECT SUM(qty) FROM supplied)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog (important stock): parts whose quantity supplied
    by {Q11_NATION} suppliers exceeds {Q11_FRACTION} of that nation's
    total supplied quantity (fixture has no partsupp — supplied volume
    comes from lineitem).

    The per-part aggregate shuffles once on partkey (supplier⋈nation
    prunes FIRST and broadcasts, so non-{Q11_NATION} rows never enter
    the shuffle); the grand total is a 1-row re-aggregate of the same
    frame, broadcast back into the filter. l_quantity is integral, so
    both sums are exact in f64 and the threshold compare is bit-stable
    across engines — no rounding needed.
    """
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    nat_supp = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey")
    supplied = (
        load(spark, sf_dir, "lineitem")
        .join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    total = supplied.agg(
        (F.sum("qty") * F.lit(Q11_FRACTION)).alias("threshold")
    )
    return (
        supplied.join(F.broadcast(total))
        .filter(F.col("qty") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("qty").cast("bigint").alias("supplied_qty"),
        )
    )


@query(
    "q12_late_priority",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
    GROUP BY l.l_returnflag
    """,
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog (shipping-priority audit): among lines shipped
    more than {Q12_LATE_DAYS} days after the order date, how many came
    from high- vs low-priority orders, by return flag (the fixture's
    categorical line attribute — it has no shipmode column; lateness is
    ship-vs-order-date as in q4).

    One orderkey join (the facts' natural co-partition key — bucketable
    at ingest so the join needs no exchange), lateness as a join
    residual, then a two-phase conditional-count aggregate over the
    3-value flag domain. Counts are exact; no rounding anywhere.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAY")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle=f"""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog (customer order distribution): the histogram of
    per-customer order counts, zero-order customers included via the
    left join, excluding {Q13_EXCLUDED_PRIORITY} orders (the fixture has
    no o_comment for the original's 'special requests' pattern — an
    order-priority class is the analogous exclusion).

    Two-level aggregation: orders shuffles once on custkey (the
    exclusion filter prunes before the exchange), the outer histogram
    groups on the bounded c_count domain — classic map-side-combine
    friendly. COUNT of a nullable key handles the left-join zeros
    identically on both engines.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(CAST(100 AS DOUBLE)
                 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                            THEN {revenue_e4_sql("l.")}
                            ELSE 0 END) AS DOUBLE)
                 / NULLIF(CAST(SUM({revenue_e4_sql("l.")}) AS DOUBLE), 0),
                 2) AS promo_pct,
           {exact_sum_sql(revenue_e4_sql("l."), 10000)}
             AS total_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '{Q14_START} 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '{Q14_END} 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: share of one quarter's revenue from PROMO-type
    parts — a conditional aggregate ratio over a single fact⋈dim join.

    The quarter predicate prunes the lineitem scan (pushdown); part
    broadcasts (it is the smaller side by an order of magnitude and
    joins on its key); both SUMs fold in one partial-aggregate pass, so
    the plan is scan → broadcast-hash-join → two-phase agg with no
    extra shuffle. The 100-multiplier is cast to DOUBLE in the oracle —
    DuckDB decimal-literal arithmetic diverges from Spark doubles.
    """
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{Q14_START} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q14_END} 00:00:00").cast("timestamp"))
    )
    # exact 1e-4-unit revenue (r10 quantization audit); the 1e4 scale
    # cancels in the promo ratio, so both terms stay exact integers and
    # the single IEEE division at the end is order-independent.
    rev_e4 = revenue_e4_col()
    promo_e4 = F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            pround(
                # try_divide: an all-refunded quarter (Σrev = 0) is an
                # undefined share, not an ANSI abort (zero-values sweep).
                F.try_divide(
                    F.lit(100.0)
                    * F.sum(promo_e4.cast("decimal(38,0)")).cast("double"),
                    F.sum(rev_e4.cast("decimal(38,0)")).cast("double"),
                ),
                2,
            ).alias("promo_pct"),
            exact_sum(rev_e4, 10000).alias("total_revenue"),
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             {exact_sum_sql(revenue_e4_sql(), 10000)} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q15_Q_START} 00:00:00'
        AND l_shipdate < TIMESTAMP '{Q15_Q_END} 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    ORDER BY r.total_rev DESC, s.s_suppkey
    LIMIT 1
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog (top supplier): the supplier with the highest
    quarter revenue. The original's view + scalar-max self-join is
    spelled as order-by-limit-1 over the per-supplier aggregate with a
    rounded revenue key and a suppkey tiebreak — deterministic across
    engines (raw-double max-equality joins are an ulp lottery), and it
    plans as TakeOrderedAndProject over dimension-bounded aggregate
    rows, not a global sort.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_Q_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_Q_END).cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        # exact 1e-4-unit revenue sum (r10 quantization audit) — the
        # top-1 ranking key must not drift with accumulation order.
        exact_sum(revenue_e4_col(), 10000).alias("total_rev")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(s, rev["l_suppkey"] == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy(F.desc("total_rev"), "s_suppkey")
        .limit(1)
    )


@query(
    "q16_parts_supplier",
    oracle=f"""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> '{Q16_EXCLUDED_BRAND}'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog (parts/supplier relationship): distinct supplier
    counts per (brand, type, size), excluding one brand and suppliers in
    deficit (the fixture's stand-in for the original's complaint
    exclusion; supply pairs come from lineitem — no partsupp).

    The NOT IN compiles to a broadcast anti-join against the ~1%-of-
    suppliers exclusion list; part broadcasts with the brand predicate
    pushed. The COUNT(DISTINCT) is the one data-sized shuffle —
    Spark expands it to a two-phase distinct-then-count, partial
    aggregation deduping (group-keys × suppkey) map-side first.
    """
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand") != Q16_EXCLUDED_BRAND
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM({cents_sql("l.l_extendedprice")}) AS DOUBLE)
                 / 700.0, 2) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < {Q17_FRACTION} * pa.avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog (small-quantity-order revenue): revenue locked
    in orders below half their part's average quantity.

    The correlated average decorrelates to one per-part aggregate
    joined back to lineitem on partkey — both sides share the partkey
    shuffle. The threshold compare is exact cross-engine: l_quantity is
    integral-valued, so the per-part sums (and hence averages) are
    exact in f64, not summation-order noise.
    """
    li = load(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    j = li.join(pa, li["l_partkey"] == pa["pk"]).filter(
        F.col("l_quantity") < Q17_FRACTION * F.col("avg_qty")
    )
    return j.agg(
        # exact cents sum (r10 quantization audit); /700 folds the cents
        # scale and the 7-year window into one IEEE division.
        pround(
            F.sum(
                cents_col(F.col("l_extendedprice")).cast("decimal(38,0)")
            ).cast("double")
            / 700.0,
            2,
        ).alias("avg_yearly"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q18_large_volume",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > {Q18_QTY_THRESHOLD}
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           big.total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analog (large-volume customer): top-100 orders whose
    total lineitem quantity exceeds Q18_QTY_THRESHOLD, with customer
    name.

    The HAVING aggregate runs FIRST and is selective (~1.5% of orders
    qualify at the fixture threshold), so the expensive fact table
    collapses to a heavy-hitter key list before any join. The orders
    join reuses the orderkey partitioning of the aggregate (no second
    fact shuffle under AQE); customer is dimension-sized and
    broadcasts. Top-100 plans as TakeOrderedAndProject — per-partition
    top-k then a driver merge, never a global sort. Quantities are
    integral doubles, so the SUM is exact on both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            pround(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_disjunctive_pred",
    oracle=f"""
    SELECT {exact_sum_sql(revenue_e4_sql("l."), 10000)}
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: revenue from three disjunctive brand/size/
    quantity predicate branches — the classic OR-of-ANDs join predicate
    that exercises Catalyst's CNF extraction.

    The full disjunction references both join sides, so it cannot be
    pushed as-is; Catalyst extracts the per-side common denominators
    (brand ∈ {12,23,3} ∧ size ≤ 35 on part, quantity ∈ [1,40] on
    lineitem) and pushes those to the scans, leaving the cross-side
    residual on the broadcast join. The plan test asserts the extracted
    brand filter reaches the part scan.
    """
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    q, br, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((br == "Brand#12") & sz.between(1, 15) & q.between(1, 20))
        | ((br == "Brand#23") & sz.between(1, 25) & q.between(10, 30))
        | ((br == "Brand#3") & sz.between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            # exact 1e-4-unit revenue sum (r10 quantization audit)
            exact_sum(revenue_e4_col(), 10000).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q20_potential_promotion",
    oracle=f"""
    WITH heavy AS (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q20_YEAR}-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '{Q20_YEAR + 1}-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(l_quantity) > {Q20_MIN_QTY}
    )
    SELECT n.n_name, s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analog (potential part promotion): suppliers that moved
    more than {Q20_MIN_QTY} units of some single part in one year
    (fixtures carry no partsupp, so the supply relationship IS the
    lineitem history), listed with their nation.

    The year filter pushes into the scan; the heavy aggregate groups on
    (suppkey, partkey) and its HAVING uses exact integral-quantity
    sums; the IN compiles to a left-semi join and the nation dim
    broadcasts. One fact shuffle end-to-end.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{Q20_YEAR}-01-01").cast("timestamp"))
        & (
            F.col("l_shipdate")
            < F.lit(f"{Q20_YEAR + 1}-01-01").cast("timestamp")
        )
    )
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > Q20_MIN_QTY)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("n_name", "s_suppkey", "s_name")
    )


@query(
    "q21_suppliers_kept_waiting",
    oracle=f"""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
    ), all_f AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM all_f l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog (suppliers who kept orders waiting): per
    supplier, the finalized multi-supplier orders where it was the ONLY
    late supplier (lateness = shipped > {Q21_LATE_DAYS} days after the
    order date; the fixture has no receipt/commit dates).

    The EXISTS / NOT EXISTS pair compiles to a semi- and an anti-join,
    both keyed on orderkey — the same key as the fact⋈fact join, so
    under AQE the three joins share one orderkey clustering. The late
    set is distinct-reduced per (order, supplier) before the quadratic
    self-comparison, bounding it by participating pairs, and the final
    count groups on the supplier dimension.
    """
    o_f = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    all_f = li.join(
        o_f, F.col("l_orderkey") == F.col("o_orderkey")
    ).select("l_orderkey", "l_suppkey")
    late = (
        li.join(
            o_f,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAY")
            ),
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    others = all_f.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    l1 = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("k"))
            & (F.col("l_suppkey") != F.col("sk")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(F.broadcast(s), l1["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_dormant_customers",
    oracle=f"""
    WITH avg_bal AS (
      -- exact cents mean, unrounded (it is a THRESHOLD, not an output):
      -- SUM(BIGINT)/COUNT/100.0 is the same IEEE division chain the
      -- Spark side computes, so the filter membership cannot flip with
      -- accumulation order (r10 quantization audit).
      SELECT CAST(SUM({cents_sql("c_acctbal")}) AS DOUBLE)
             / COUNT(c_acctbal) / 100.0 AS avg_bal
      FROM customer WHERE c_acctbal > 0
    ),
    recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00'
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_custs,
           {exact_sum_sql(cents_sql("c.c_acctbal"), 100)} AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.avg_bal
      AND NOT EXISTS (SELECT 1 FROM recent r
                      WHERE r.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: above-average-balance customers with no order
    since the cutoff (the fixture has no order-less customers, so
    "never ordered" becomes "dormant since") — per market segment.

    Shape: a 1-row global average broadcast into the customer filter
    (BNLJ over a single row, whitelisted in the plan sweep), then a
    LEFT ANTI join against the date-pruned recent-orders keys. The anti
    join shuffles on custkey — at scale both sides are large, so the
    shuffle (not a broadcast of all recent buyers) is the right shape;
    AQE downgrades it to broadcast when the pruned side is small.
    """
    c = load(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        # exact cents mean, unrounded — same division chain as the
        # oracle CTE, so the threshold is order-independent.
        .agg(
            (
                F.sum(
                    cents_col(F.col("c_acctbal")).cast("decimal(38,0)")
                ).cast("double")
                / F.count("c_acctbal")
                / 100.0
            ).alias("avg_bal")
        )
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit(f"{Q22_CUTOFF} 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        c.join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            # exact cents sum (r10 quantization audit)
            exact_sum(cents_col(F.col("c_acctbal")), 100).alias("total_bal"),
        )
    )
