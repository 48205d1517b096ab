"""Heavy-edge matching (operators.matching): validity, maximality at the
fixpoint, and HEM clustering feeding the contraction operator."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kaminpar_spark.operators.matching import (
    heavy_edge_matching,
    matching_clustering,
)
from kaminpar_spark import fixtures


def _pairs(state):
    return {(r["id"], r["mate"]) for r in state.collect() if r["mate"] is not None}


def test_matching_is_valid(spark):
    g, _, _ = fixtures.erdos_renyi(spark, n=80, p=0.08, seed=5)
    st = heavy_edge_matching(g, rounds=10)
    matched = _pairs(st)
    # symmetry: (u, v) matched <=> (v, u) matched; no node matched twice
    assert all((v, u) in matched for u, v in matched)
    assert len({u for u, _ in matched}) == len(matched)
    # every matched pair is an actual edge
    edges = {(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()}
    assert matched <= edges


@pytest.mark.slow
def test_matching_maximal_at_fixpoint(spark):
    g, _, _ = fixtures.erdos_renyi(spark, n=80, p=0.08, seed=5)
    st = heavy_edge_matching(g, rounds=20)
    un = st.where(F.col("mate").isNull()).select("id")
    # maximality: no edge has BOTH endpoints unmatched
    live = (
        g.edges.join(un.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(un.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    assert live.count() == 0


def test_matching_prefers_heavy_edges(spark):
    # path a-b-c with w(a,b)=10 >> w(b,c)=1: b must pair with a
    rows = [(0, 1, 10), (1, 0, 10), (1, 2, 1), (2, 1, 1)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight long")
    from kaminpar_spark.graph import GraphFrame

    g = GraphFrame.from_edge_pairs(edges.select("src", "dst", "weight"), symmetrize=False)
    st = {r["id"]: r["mate"] for r in heavy_edge_matching(g, rounds=3).collect()}
    assert st[0] == 1 and st[1] == 0 and st[2] is None


def test_matching_clustering_contracts(spark):
    from kaminpar_spark.operators.contraction import contract

    g, _, _ = fixtures.erdos_renyi(spark, n=60, p=0.1, seed=9)
    cl = matching_clustering(g, rounds=10)
    # clustering invariant: leaders map to themselves (cluster[cluster[x]]==cluster[x])
    leaders = cl.select(F.col("cluster").alias("id")).distinct()
    self_mapped = cl.join(leaders, "id", "left_semi").where(
        F.col("id") != F.col("cluster")
    )
    assert self_mapped.count() == 0
    res = contract(g, cl)
    cg = res.coarse
    n0, n1 = g.num_nodes(), cg.num_nodes()
    # a maximal matching pairs >= ~1/2 of non-isolated nodes on this graph;
    # just assert real shrinkage and weight conservation
    assert n1 < n0
    assert cg.total_node_weight() == g.total_node_weight()


@pytest.mark.slow
def test_partitioner_hem_coarsener(spark):
    """Partitioner(coarsener='hem') end-to-end: feasible k-way partition via
    matching-based coarsening (the METIS-family pipeline shape)."""
    from kaminpar_spark.operators import metrics
    from kaminpar_spark.plans.partitioner import Partitioner

    g, _, _ = fixtures.erdos_renyi(spark, n=400, p=0.02, seed=3)
    p = Partitioner(g, spark=spark, contraction_limit=50, coarsener="hem")
    p.IN_MEMORY_HALF_EDGES = 0  # the coarsener shapes only the Spark levels
    res = p.partition(k=4, epsilon=0.03)
    blocks = res.partition
    assert blocks.count() == g.num_nodes()
    assert blocks.select("block").distinct().count() == 4
    imb = metrics.imbalance(g, blocks)
    assert imb <= 0.03 + 1e-9
    # matching-based coarsening actually ran (at least one level)
    assert any(l["stage"] == "coarsen" for l in res.levels)
