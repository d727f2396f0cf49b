"""Graph analytics (``graph_`` queries): integer-mass PageRank over the
part taxonomy derived from ``part`` (child ⌊k/7⌋ → parent), exact in
bigint arithmetic so both engines agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.session import load


PR_NODE_CAP = 200  # same derived-taxonomy population as sql_recursive_*
PR_SCALE = 10**12  # total rank mass in integer micro-units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_ITERS = 5


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
