"""Round-21 seed operators — two scale-design flagships: INTEGER-exact
PageRank over the derived part hierarchy (iterative distributed joins,
chained-CTE oracle) and a Morton/Z-order multi-dimension layout audit
(physical file cuts ≡ logical buckets over the interleaved key) — 2
operators, both oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import pround
from engine.registry import query
from engine.session import load

PR_NODE_CAP = 200  # same derived-taxonomy population as sql_recursive_*
PR_SCALE = 10**12  # total rank mass in integer micro-units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_ITERS = 5

Z_BITS = 10  # Morton bits per dimension
Z_FILE_ROWS = 1000  # records per physical file / logical bucket


# ---------------------------------------------------------------------------
# graph_pagerank_integer — deterministic PageRank via integer mass
# ---------------------------------------------------------------------------


def _pr_step_sql(prev: str, cur: str) -> str:
    """One PageRank iteration as SQL: damped contributions flow along
    child→parent edges (outdegree 1), dangling (root) mass and the
    teleport share redistribute uniformly; ALL division is integer
    (truncating), so mass bookkeeping is bit-identical everywhere."""
    return f"""
    {cur} AS (
      SELECT n.node,
             CAST((SELECT SUM(r) FROM {prev}) * {PR_DAMP_DEN - PR_DAMP_NUM}
                  // {PR_DAMP_DEN} // (SELECT COUNT(*) FROM nodes) AS BIGINT)
             + CAST((SELECT COALESCE(SUM(r * {PR_DAMP_NUM} // {PR_DAMP_DEN}), 0)
                     FROM {prev} p WHERE p.node NOT IN
                       (SELECT child FROM edges))
                    // (SELECT COUNT(*) FROM nodes) AS BIGINT)
             + CAST(COALESCE((
                 SELECT SUM(p.r * {PR_DAMP_NUM} // {PR_DAMP_DEN})
                 FROM {prev} p JOIN edges e ON e.child = p.node
                 WHERE e.parent = n.node), 0) AS BIGINT) AS r
      FROM nodes n
    )"""


def _pr_oracle() -> str:
    steps = ",\n".join(
        _pr_step_sql(f"it{i}", f"it{i + 1}") for i in range(PR_ITERS)
    )
    return f"""
    WITH nodes AS (
      SELECT p_partkey AS node FROM part WHERE p_partkey < {PR_NODE_CAP}
    ),
    edges AS (
      SELECT c.node AS child, CAST(FLOOR(c.node / 7.0) AS BIGINT) AS parent
      FROM nodes c
      WHERE CAST(FLOOR(c.node / 7.0) AS BIGINT) IN (SELECT node FROM nodes)
        AND c.node >= 7
    ),
    it0 AS (
      SELECT node,
             CAST({PR_SCALE} // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS r
      FROM nodes
    ),
    {steps}
    SELECT node, r AS rank_units
    FROM it{PR_ITERS}
    ORDER BY r DESC, node
    LIMIT 20
    """


def integer_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_nodes: int,
    iters: int = PR_ITERS,
) -> DataFrame:
    """The iterative core: ``iters`` damped integer-mass steps over
    (node) / (child, parent) frames with outdegree ≤ 1, returning the
    final (node, r) ranks. Factored so the refcheck suite can drive it
    on arbitrary small graphs (chains, stars, all-dangling, empty edge
    sets) against a pure-Python reference of the same recurrence —
    shapes the ⌊k/7⌋ fixture taxonomy never produces
    (tests/test_seeds21_refchecks.py)."""
    # The dangling flag is a static node property — compute it ONCE and
    # carry it on the rank frame, so each iteration's dangling-mass sum
    # is a conditional aggregate over ranks instead of a separate
    # broadcast-anti-join + aggregate job (r14: the loop used to launch
    # TWO scalar-aggregate broadcast builds per iteration — total mass
    # and dangling mass — each a full sequential job; fusing them into
    # one aggregate halves the per-iteration job count, same integer
    # arithmetic, bit-identical ranks).
    is_dang = F.col("out_n").isNull()
    flagged_nodes = nodes.join(
        edges.select(F.col("child").alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("out_n")),
        "node",
        "left",
    ).select("node", is_dang.alias("dang"))
    ranks = flagged_nodes.select(
        "node", F.lit(PR_SCALE // n_nodes).cast("bigint").alias("r"), "dang"
    )
    damp = f"r * {PR_DAMP_NUM} div {PR_DAMP_DEN}"  # truncating, ≡ DuckDB //
    for _ in range(iters):
        shares = (
            ranks.agg(
                F.sum("r").alias("tot"),
                F.coalesce(
                    F.sum(F.when(F.col("dang"), F.expr(damp))), F.lit(0)
                ).alias("dm"),
            )
            .select(
                F.expr(
                    f"tot * {PR_DAMP_DEN - PR_DAMP_NUM} div {PR_DAMP_DEN}"
                    f" div {n_nodes}"
                )
                .cast("bigint")
                .alias("tele"),
                F.expr(f"dm div {n_nodes}").cast("bigint").alias("dshare"),
            )
        )
        flowed = (
            ranks.join(edges, ranks.node == edges.child)
            .groupBy("parent")
            .agg(F.sum(F.expr(damp)).alias("inflow"))
            .select(F.col("parent").alias("node"), "inflow")
        )
        ranks = (
            flagged_nodes.join(flowed, "node", "left")
            .crossJoin(F.broadcast(shares))
            .select(
                "node",
                (
                    F.coalesce(F.col("inflow"), F.lit(0))
                    + F.col("tele")
                    + F.col("dshare")
                )
                .cast("bigint")
                .alias("r"),
                "dang",
            )
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "r")


@query("graph_pagerank_integer", oracle=_pr_oracle())
def graph_pagerank_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the derived part taxonomy (child → ⌊key/7⌋ edges),
    5 damped iterations, top-20 nodes — the canonical iterative graph
    algorithm expressed as distributed joins, like llm_dedup_clusters'
    connected components but with per-step MASS arithmetic.

    DETERMINISTIC BY INTEGER MASS: ranks live in 10¹² integer
    micro-units and every damping/redistribution step uses truncating
    integer division — float PageRank accumulates summation-order ulps
    across iterations and can flip near-tied ranks between engines;
    integer mass cannot. Dangling (root) mass and the teleport share
    redistribute uniformly each step. The Spark side loops 5 bounded
    iterations of join+aggregate (each a hash join on the parent key —
    the same Σ|frontier| argument as the CC fixpoint); the oracle
    unrolls the SAME recurrence as 5 chained CTEs. Hub structure
    emerges exactly: low keys collect mass from their ⌊k/7⌋ subtrees.
    """
    part = load(spark, sf_dir, "part")
    nodes = part.filter(F.col("p_partkey") < PR_NODE_CAP).select(
        F.col("p_partkey").alias("node")
    )
    n_nodes = nodes.count()  # metadata-sized (≤ PR_NODE_CAP), plan-time
    if n_nodes == 0:  # empty fixture twin: no mass to iterate
        return spark.createDataFrame([], "node bigint, rank_units bigint")
    edges = (
        nodes.filter(F.col("node") >= 7)
        .select(
            F.col("node").alias("child"),
            F.floor(F.col("node") / 7.0).cast("bigint").alias("parent"),
        )
        .join(
            nodes.select(F.col("node").alias("parent")).distinct(),
            "parent",
        )
    )
    return (
        integer_pagerank(nodes, edges, n_nodes)
        .orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select("node", F.col("r").alias("rank_units"))
    )


# ---------------------------------------------------------------------------
# sink_zorder_layout — Morton-interleaved multi-dimension clustering
# ---------------------------------------------------------------------------


def _morton_sql(u: str, d: str) -> str:
    """DuckDB spelling: shift OPERATORS (no shiftright function)."""
    return " + ".join(
        f"(((({u} >> {k}) & 1) << {2 * k}) + ((({d} >> {k}) & 1) << {2 * k + 1}))"
        for k in range(Z_BITS)
    )


def _morton_spark(u: str, d: str) -> str:
    """Spark spelling: shiftleft/shiftright FUNCTIONS + & operator —
    identical integer arithmetic, two dialects."""
    return " + ".join(
        f"(shiftleft(shiftright({u}, {k}) & 1, {2 * k})"
        f" + shiftleft(shiftright({d}, {k}) & 1, {2 * k + 1}))"
        for k in range(Z_BITS)
    )


@query(
    "sink_zorder_layout",
    oracle=f"""
    WITH c AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 1024 AS day_k,
             user_id % 1024 AS user_k,
             event_id
      FROM events
    ), m AS (
      SELECT user_k, day_k,
             {_morton_sql("user_k", "day_k")} AS morton,
             event_id
      FROM c
    ), b AS (
      SELECT user_k, day_k,
             CAST((ROW_NUMBER() OVER (ORDER BY morton, event_id) - 1)
                  // {Z_FILE_ROWS} AS BIGINT) AS bucket
      FROM m
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(user_k) - MIN(user_k) AS BIGINT) AS user_span,
           CAST(MAX(day_k) - MIN(day_k) AS BIGINT) AS day_span
    FROM b GROUP BY 1
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multi-dimensional clustering audit: events laid
    out along the BIT-INTERLEAVED (user, day) key and cut into
    fixed-size buckets — per bucket, the min/max SPAN of BOTH
    dimensions, which is precisely what parquet zone-maps would skip
    on. A linear (single-column) sort gives tight spans in one
    dimension and full-range spans in the other; Morton order bounds
    BOTH — the reason Delta/Iceberg OPTIMIZE ZORDER exists, built here
    from plain bit arithmetic.

    The interleave is a 10-bit-per-dimension unrolled shift/mask
    expression — identical integer arithmetic on both engines — and
    bucket cuts are row_number over the unique (morton, event_id)
    order, so the audit is bit-stable. The physical-write twin
    (sortWithinPartitions(morton) + maxRecordsPerFile) produces files
    that ARE these buckets; the logical form keeps the audit
    side-effect-free and oracle-checkable.
    """
    e = load(spark, sf_dir, "events")
    c = e.select(
        (F.col("user_id") % 1024).alias("user_k"),
        (
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint") % 1024
        ).alias("day_k"),
        "event_id",
    )
    m = c.select(
        "user_k",
        "day_k",
        F.expr(_morton_spark("user_k", "day_k")).alias("morton"),
        "event_id",
    )
    b = m.select(
        "user_k",
        "day_k",
        F.floor(
            (F.row_number().over(W.orderBy("morton", "event_id")) - 1)
            / Z_FILE_ROWS
        )
        .cast("bigint")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.max("user_k") - F.min("user_k")).cast("bigint").alias("user_span"),
        (F.max("day_k") - F.min("day_k")).cast("bigint").alias("day_span"),
    )
