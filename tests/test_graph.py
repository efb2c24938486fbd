"""Integer fixed-point PageRank (operators/graph.py) — properties the
q133 oracle can't express: structural rank ordering, symmetry, and
partitioning invariance (the determinism claim that matters on a
cluster)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quanta_contrib.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_hub_dominates_star(spark):
    # 1..10 all point at 0; 0 points back at 1 (no dangling hub)
    # the 0<->1 2-cycle makes rank slosh between them with period 2 and
    # decay 0.85^2 per round — 24 iterations damp the oscillation to
    # <2% so the converged ordering (hub > its target > leaves) holds
    pairs = [(i, 0) for i in range(1, 11)] + [(0, 1)]
    pr = {r.node: r.pr for r in pagerank(_edges(spark, pairs), iters=24).collect()}
    assert pr[0] == max(pr.values())
    assert pr[0] > 3 * pr[2]  # hub rank far above a leaf
    assert pr[1] > pr[2]  # 1 gets the hub's whole outflow on top


def test_pagerank_cycle_is_uniform(spark):
    # a 5-cycle is vertex-transitive: every node must get the SAME rank
    pairs = [(i, (i + 1) % 5) for i in range(5)]
    ranks = {r.pr for r in pagerank(_edges(spark, pairs), iters=8).collect()}
    assert len(ranks) == 1


def test_pagerank_partitioning_invariant(spark):
    pairs = [(i, (i * 7 + 3) % 50) for i in range(50)] + [
        (i, 0) for i in range(0, 50, 5)
    ]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, pagerank(e, iters=6).collect()))
    b = sorted(map(tuple, pagerank(e.repartition(13), iters=6).collect()))
    assert a == b  # bit-identical regardless of input partitioning


def test_pagerank_validation(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="iters"):
        pagerank(e, iters=0)
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(e, damping_pct=100)
    with pytest.raises(ValueError, match="scale"):
        pagerank(e, scale=999)


def test_pagerank_mass_bounded(spark):
    # floor divisions only LOSE mass: total rank never exceeds scale,
    # and stays within teleport-floor of it for a dangling-free graph
    pairs = [(i, (i + 1) % 8) for i in range(8)]
    total = (
        pagerank(_edges(spark, pairs), iters=8)
        .agg(F.sum("pr")).first()[0]
    )
    assert total <= 10**9
    assert total >= 10**9 - 8 * 100  # per-node floor loss is tiny


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles (3 per vertex); an attached pendant vertex
    and a disconnected edge contribute none."""
    from quanta_contrib.operators.graph import triangle_count

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = k4 + [(3, 9), (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["v"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_normalizes_input(spark):
    """Reverse duplicates, repeated edges, and self-loops must not
    change counts: each triangle counts once per vertex."""
    from quanta_contrib.operators.graph import triangle_count

    edges = [(0, 1), (1, 0), (1, 2), (1, 2), (0, 2), (2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["v"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert out == {0: 1, 1: 1, 2: 1}


def test_triangle_count_hub_star_has_no_triangles(spark):
    """A pure star (the hub-degree worst case the orientation defuses)
    has zero triangles — and the result is empty, not zero-rows-lost."""
    from quanta_contrib.operators.graph import triangle_count

    df = spark.createDataFrame([(0, i) for i in range(1, 200)], "src long, dst long")
    assert triangle_count(df).count() == 0


def test_triangle_count_orientation_bounds_wedge_side(spark):
    """Plan shape: the wedge self-join must be an equi-join on the
    oriented LOW endpoint (no cartesian/nested-loop fallback)."""
    from quanta_contrib.operators.graph import triangle_count

    df = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    plan = triangle_count(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
