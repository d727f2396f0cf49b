"""Hypothesis reference check for the round-21 iterative core:
integer-mass PageRank (engine.seeds21.integer_pagerank) vs a
pure-Python power iteration of the SAME integer recurrence, on
arbitrary small outdegree-≤1 graphs — chains, stars, all-dangling
nodes, empty edge sets, self-parents — shapes the fixture's ⌊k/7⌋
taxonomy never produces. The DuckDB oracle unrolls the recurrence as
chained CTEs over that one taxonomy; this pins the distributed
join+aggregate loop (broadcast scalars, left-join inflow, dangling
anti-join) on every other graph shape.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from engine.graph import PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE, integer_pagerank

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _reference_pagerank(n_nodes, parent_of, iters):
    """The same recurrence, single-threaded: per-node truncating
    damping, dangling + teleport shares integer-divided by n."""
    nodes = list(range(n_nodes))
    r = {v: PR_SCALE // n_nodes for v in nodes}
    tele_num = PR_DAMP_DEN - PR_DAMP_NUM
    for _ in range(iters):
        tot = sum(r.values())
        tele = tot * tele_num // PR_DAMP_DEN // n_nodes
        dang = (
            sum(
                r[v] * PR_DAMP_NUM // PR_DAMP_DEN
                for v in nodes
                if v not in parent_of
            )
            // n_nodes
        )
        inflow = {}
        for child, parent in parent_of.items():
            inflow[parent] = (
                inflow.get(parent, 0) + r[child] * PR_DAMP_NUM // PR_DAMP_DEN
            )
        r = {v: inflow.get(v, 0) + tele + dang for v in nodes}
    return r


@given(
    n_nodes=st.integers(1, 8),
    parent_picks=st.lists(st.integers(0, 7), min_size=8, max_size=8),
    has_edge=st.lists(st.booleans(), min_size=8, max_size=8),
    iters=st.integers(1, 3),
)
@SETTINGS
def test_integer_pagerank_matches_reference(
    spark, n_nodes, parent_picks, has_edge, iters
):
    parent_of = {
        c: parent_picks[c] % n_nodes
        for c in range(n_nodes)
        if has_edge[c]
    }
    nodes = spark.createDataFrame(
        [(v,) for v in range(n_nodes)], "node long"
    )
    edge_rows = [(c, p) for c, p in parent_of.items()]
    if edge_rows:
        edges = spark.createDataFrame(edge_rows, "child long, parent long")
    else:
        edges = spark.createDataFrame([], "child long, parent long")
    got = {
        r.node: r.r
        for r in integer_pagerank(nodes, edges, n_nodes, iters).collect()
    }
    want = _reference_pagerank(n_nodes, parent_of, iters)
    assert got == want
