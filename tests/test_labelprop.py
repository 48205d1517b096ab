"""Label propagation: convergence, caps, golden contraction tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaminpar_spark import fixtures
from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.labelprop import label_propagation, lp_step
from kaminpar_spark.operators.contraction import contract, project_partition
from kaminpar_spark.operators import metrics


def two_cliques(spark):
    """Two 4-cliques joined by a single bridge edge — LP must find them."""
    e = []
    for base in (0, 4):
        e += [(base + u, base + v, 1) for u in range(4) for v in range(u + 1, 4)]
    e.append((0, 4, 1))
    return GraphFrame.from_edge_pairs(
        spark.createDataFrame(e, "src long, dst long, weight long")
    )


def test_lp_two_cliques(spark):
    g = two_cliques(spark)
    labels = {r["id"]: r["label"] for r in label_propagation(g, max_iters=12).collect()}
    assert len({labels[i] for i in range(4)}) == 1
    assert len({labels[i] for i in range(4, 8)}) == 1
    assert labels[0] != labels[4]


def test_lp_cluster_weight_cap(spark):
    """With max_cluster_weight=4 no cluster may exceed 4 total weight: the
    cumulative admission counts every mover ranked ahead into a cluster, so
    concurrent BSP joins cannot overflow it."""
    g = two_cliques(spark)
    labels = label_propagation(g, max_iters=12, max_cluster_weight=4)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n")).collect()
    assert max(r["n"] for r in sizes) <= 4


def test_lp_hard_caps_block_move_into_full_block(spark):
    """A move into a block at capacity is rejected (hard cap never creates
    NEW overload; draining pre-existing overload is the balancer's job)."""
    g = two_cliques(spark)
    # all in block 0 except node 7; node 7's best label is 0 (3 neighbors)
    state = g.nodes.select(
        "id",
        F.when(F.col("id") == 7, F.lit(7)).otherwise(F.lit(0)).cast("long").alias("label"),
        "weight",
    )
    caps = spark.createDataFrame([(0, 7), (7, 4)], "label long, capacity long")
    new = lp_step(g, state, hard_caps=caps, semi_sync=False)
    got = {r["id"]: r["label"] for r in new.collect()}
    assert got[7] == 7  # blocked: block 0 already holds weight 7 = cap
    w = {r["label"]: r["w"] for r in new.groupBy("label").agg(F.sum("weight").alias("w")).collect()}
    assert w[0] == 7  # unchanged


def test_lp_hard_caps_admission_order(spark):
    """Residual capacity admits only the top-gain prefix (gain ties broken by
    ascending id — deterministic BSP replacement for the reference's CAS)."""
    g = fixtures.star5(spark)  # center 0 weight 4, leaves weight 1, edges w=3
    state = g.nodes.select(
        "id",
        F.when(F.col("id") == 0, F.lit(0)).otherwise(F.col("id")).cast("long").alias("label"),
        "weight",
    )
    # every leaf wants label 0 (score 3 > own 0); block 0 weight 4, cap 6 ->
    # residual 2 -> exactly leaves 1 and 2 admitted (id tie-break). Leaf
    # blocks get cap 1 (already full) so the center cannot counter-move.
    caps = spark.createDataFrame(
        [(0, 6), (1, 1), (2, 1), (3, 1), (4, 1)], "label long, capacity long"
    )
    new = lp_step(g, state, hard_caps=caps, semi_sync=False)
    got = {r["id"]: r["label"] for r in new.collect()}
    assert got[1] == 0 and got[2] == 0 and got[3] == 3 and got[4] == 4
    w = {r["label"]: r["w"] for r in new.groupBy("label").agg(F.sum("weight").alias("w")).collect()}
    assert w[0] == 6


def test_contract_grid_to_columns(spark):
    """graph_utils_test.cc:70-120: contracting the 2x4 grid by columns
    {0,4},{1,5},{2,6},{3,7} gives a path of 4 coarse nodes."""
    g = fixtures.grid8(spark)
    clustering = spark.createDataFrame(
        [(i, i % 4) for i in range(8)], "id long, cluster long"
    )
    res = contract(g, clustering, stable_ids=True)
    c = res.coarse
    assert c.num_nodes() == 4
    # column weights: 2^i + 2^(i+4)
    w = {r["id"]: r["weight"] for r in c.nodes.collect()}
    assert sorted(w.values()) == sorted([1 + 16, 2 + 32, 4 + 64, 8 + 128])
    assert c.total_node_weight() == 255  # conservation
    c.validate()
    # coarse graph is a path: end columns degree 1... grid8 extras make it
    # near-path; just check symmetry+no self loops held and m>0
    assert c.num_half_edges() > 0


def test_contract_to_singletons_identity(spark):
    g = fixtures.k3(spark, weighted=True)
    clustering = g.nodes.select("id", F.col("id").alias("cluster"))
    res = contract(g, clustering, stable_ids=True)
    assert res.coarse.num_nodes() == 3
    assert res.coarse.num_half_edges() == 6
    assert res.coarse.total_node_weight() == 60


def test_contract_single_cluster(spark):
    g = fixtures.k3(spark, weighted=True)
    clustering = g.nodes.select("id", F.lit(0).cast("long").alias("cluster"))
    res = contract(g, clustering, stable_ids=True)
    assert res.coarse.num_nodes() == 1
    assert res.coarse.num_half_edges() == 0
    assert res.coarse.total_node_weight() == 60


def test_projection_preserves_cut(spark):
    """parallel_label_propagation_coarsener.h:205-211: cut of coarse partition
    == cut of its projection to the fine graph."""
    g = two_cliques(spark)
    clustering = spark.createDataFrame(
        [(i, 0 if i < 4 else 1) for i in range(8)], "id long, cluster long"
    )
    res = contract(g, clustering, stable_ids=True)
    cpart = res.coarse.nodes.select("id", F.col("id").cast("int").alias("block"))
    fine = project_partition(res.mapping, cpart)
    assert metrics.edge_cut(res.coarse, cpart) == metrics.edge_cut(g, fine) == 1


def test_seeded_label_propagation_two_blobs(spark):
    """Two planted cliques bridged weakly: one seed per clique classifies
    every member; seeds never flip; unreachable nodes stay NULL."""
    from kaminpar_spark import fixtures
    from kaminpar_spark.operators.labelprop import seeded_label_propagation

    import itertools

    pairs = (
        [(u, v, 1) for u, v in itertools.combinations(range(5), 2)]
        + [(u, v, 1) for u, v in itertools.combinations(range(5, 10), 2)]
        + [(4, 5, 1)]  # weak bridge
        + [(20, 21, 1)]  # separate component with no seed
    )
    g = fixtures._graph(spark, pairs)
    seeds = spark.createDataFrame([(0, 7), (9, 8)], "id long, label long")
    out = {r["id"]: r["label"] for r in seeded_label_propagation(g, seeds, rounds=3).collect()}
    assert out[0] == 7 and out[9] == 8  # seeds pinned
    for v in range(1, 4):
        assert out[v] == 7, v
    for v in range(6, 9):
        assert out[v] == 8, v
    # bridge nodes see a 4-vs-(4+1) plurality - still classified
    assert out[4] in (7, 8) and out[5] in (7, 8)
    assert out[20] is None and out[21] is None
