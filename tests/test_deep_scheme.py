"""Deep-multilevel extension (VERDICT r1 item 5), MatrixMarket reader (S6),
degree-bucket permutation (W2), SNAP dedup semantics, h-index core numbers."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaminpar_spark import fixtures
from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators import metrics as M
from kaminpar_spark.operators.kcore import core_numbers
from kaminpar_spark.operators.reorder import (
    apply_permutation,
    degree_bucket_permutation,
    inverse_permutation,
    permute_partition,
)
from kaminpar_spark.plans.partitioner import Partitioner, extend_partition
from kaminpar_spark.sources.matrix_market import read_matrix_market
from kaminpar_spark.sources.snap import read_snap


# --------------------------------------------------------------- extension
def test_extend_partition_splits_blocks(spark):
    g, _, _ = fixtures.erdos_renyi(spark, n=400, p=0.02, hub_overlay=2)
    part = g.nodes.select("id", (F.col("id") % 2).cast("int").alias("block"))
    total_w = g.total_node_weight()
    ext = extend_partition(g, part, cur_k=2, desired_k=8, epsilon=0.03,
                           k_final=8, total_weight_root=total_w)
    rows = ext.collect()
    assert len(rows) == 400
    blocks = {r["block"] for r in rows}
    assert blocks == set(range(8))
    # extension is a refinement of the original blocks: block 0 -> {0..3},
    # block 1 -> {4..7}
    for r in rows:
        assert (r["block"] < 4) == (r["id"] % 2 == 0)


def test_fill_final_k_and_extension_plan():
    """split_integral bookkeeping (graph_utils.cc:43-60, helper.cc:158-163):
    per-block final counts sum to k and the final extension splits by them."""
    from kaminpar_spark.functions.rules import fill_final_k
    from kaminpar_spark.plans.partitioner import extension_plan

    assert fill_final_k(2, 6) == [3, 3]
    assert fill_final_k(4, 6) == [2, 1, 2, 1]
    assert fill_final_k(8, 8) == [1] * 8
    assert sum(fill_final_k(8, 12)) == 12
    # intermediate extension at non-power-of-2 k: uniform split, final_ks
    # redistributed down the bisection tree
    sub_ks, offs, nfk = extension_plan(2, 4, 6, [3, 3])
    assert sub_ks == [2, 2] and offs == [0, 2, 4] and nfk == [2, 1, 2, 1]
    # final extension: per-block final_k split (blocks get 2,1,2,1 children)
    sub_ks, offs, nfk = extension_plan(4, 6, 6, [2, 1, 2, 1])
    assert sub_ks == [2, 1, 2, 1] and offs == [0, 2, 3, 5, 6] and nfk == [1] * 6


@pytest.mark.slow
@pytest.mark.parametrize("k", [6, 12])
def test_deep_scheme_non_power_of_two_k(spark, k):
    """VERDICT r2 item 5: non-power-of-2 targets must stay feasible under the
    final_k/split_integral schedule and produce exactly k nonempty-capable
    blocks, with cut no worse than a random balanced baseline."""
    g, _, _ = fixtures.erdos_renyi(spark, n=1200, p=0.008, hub_overlay=2)
    p = Partitioner(g, spark, contraction_limit=150, lp_iters=3, refine_iters=2)
    p.IN_MEMORY_HALF_EDGES = 0  # the extension schedule runs on Spark levels
    res = p.partition(k, epsilon=0.05)
    assert res.feasible, f"infeasible at k={k}: imbalance={res.imbalance}"
    blocks = {r["block"] for r in res.partition.select("block").distinct().collect()}
    assert blocks == set(range(k))
    from tests.test_partitioner import random_balanced_cut

    assert res.cut <= random_balanced_cut(spark, g, k)


def test_best_of_bisections_not_worse_than_single_seed(spark):
    """The seed portfolio: best-of-R by (feasible, cut) can only match or
    beat the single-seed result on the same coarsest graph."""
    from kaminpar_spark.plans.initial import (
        best_of_bisections,
        cut_of,
        recursive_bisect,
    )
    from kaminpar_spark.plans.partitioner import Partitioner as P

    g, _, _ = fixtures.erdos_renyi(spark, n=300, p=0.03, seed=11)
    sg, _ = P(g, spark)._collect_small(g)
    single = cut_of(sg, recursive_bisect(sg, 4, 0.05, seed=42, final_k=4))
    seeds = [42 + 7919 * r for r in range(4)]
    best = cut_of(sg, best_of_bisections(sg, 4, 0.05, seeds=seeds, final_k=4))
    assert best <= single


@pytest.mark.slow
def test_deep_scheme_quality_vs_rb(spark):
    """Reference schedule (extend per level, refine at every k) must not lose
    to round-1 rb-at-coarsest on cut at equal feasibility (VERDICT item 5)."""
    g, _, _ = fixtures.erdos_renyi(spark, n=1500, p=0.006, hub_overlay=3)
    k = 8
    deep = Partitioner(g, spark, contraction_limit=150, scheme="deep")
    rb = Partitioner(g, spark, contraction_limit=150, scheme="rb")
    # the schemes differ only on Spark levels: keep them
    deep.IN_MEMORY_HALF_EDGES = rb.IN_MEMORY_HALF_EDGES = 0
    res_deep, res_rb = deep.partition(k), rb.partition(k)
    assert res_deep.feasible
    n_blocks = res_deep.partition.select("block").distinct().count()
    assert n_blocks == k
    if res_rb.feasible:
        assert res_deep.cut <= int(res_rb.cut * 1.05) + 5  # parity or better


# --------------------------------------------------------------- h-index core
def _np_core_numbers(n, src, dst):
    """Peeling oracle on numpy arrays."""
    import collections

    adj = collections.defaultdict(set)
    for u, v in zip(src, dst):
        adj[int(u)].add(int(v))
    deg = {u: len(adj[u]) for u in range(n)}
    core = dict(deg)
    order = sorted(range(n), key=lambda u: deg[u])
    removed = set()
    cur = 0
    import heapq

    h = [(deg[u], u) for u in range(n)]
    heapq.heapify(h)
    live_deg = dict(deg)
    while h:
        d, u = heapq.heappop(h)
        if u in removed or d != live_deg[u]:
            continue
        cur = max(cur, d)
        core[u] = cur
        removed.add(u)
        for v in adj[u]:
            if v not in removed:
                live_deg[v] -= 1
                heapq.heappush(h, (live_deg[v], v))
    return core


def test_core_numbers_hindex_matches_peel_oracle(spark):
    g, src, dst = fixtures.erdos_renyi(spark, n=300, p=0.03, hub_overlay=2)
    got = {r["id"]: r["core"] for r in core_numbers(g).collect()}
    want = _np_core_numbers(300, src, dst)
    assert got == want


def test_core_numbers_clique_pendant(spark):
    g = fixtures.clique_pendant(spark)
    got = {r["id"]: r["core"] for r in core_numbers(g).collect()}
    # 4-clique -> core 3; pendant chain 3-4-5 -> cores 1
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


# --------------------------------------------------------------- reorder (W2)
def test_degree_bucket_permutation_roundtrip(spark):
    g = fixtures.clique_pendant(spark)
    perm = degree_bucket_permutation(g)
    rows = {r["id"]: r["new_id"] for r in perm.collect()}
    assert sorted(rows.values()) == list(range(6))
    # buckets: deg(5)=1 -> bucket 1; deg(4)=2 -> bucket 2; deg(0,1,2)=3,
    # deg(3)=4 -> buckets 2..3; bucket order must be non-decreasing in new_id
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    bucket = {u: (0 if d == 0 else int(np.floor(np.log2(d))) + 1) for u, d in deg.items()}
    by_new = sorted(rows.items(), key=lambda t: t[1])
    bks = [bucket[u] for u, _ in by_new]
    assert bks == sorted(bks)

    inv = {r["id"]: r["new_id"] for r in inverse_permutation(perm).collect()}
    for old, new in rows.items():
        assert inv[new] == old

    # relabeled graph preserves degrees multiset and edge cut through perm
    g2 = apply_permutation(g, perm)
    d1 = sorted(r["degree"] for r in g.degrees().collect())
    d2 = sorted(r["degree"] for r in g2.degrees().collect())
    assert d1 == d2

    part = g2.nodes.select("id", (F.col("id") % 2).cast("int").alias("block"))
    back = permute_partition(part, perm)
    cut2 = M.edge_cut(g2, part)
    cut1 = M.edge_cut(g, back)
    assert cut1 == cut2


# --------------------------------------------------------------- sources
def test_matrix_market_reader(tmp_path, spark):
    mm = tmp_path / "g.mtx"
    mm.write_text(
        "%%MatrixMarket matrix coordinate real general\n"
        "% a comment\n"
        "4 4 5\n"
        "1 2 2.0\n"
        "2 1 2.0\n"  # reverse listed too: must NOT double the weight
        "2 3 1.0\n"
        "3 4 5.0\n"
        "4 4 9.0\n"  # diagonal: dropped
    )
    g = read_matrix_market(spark, str(mm))
    g.validate()
    assert g.num_nodes() == 4
    edges = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert edges[(0, 1)] == 2 and edges[(1, 0)] == 2
    assert edges[(1, 2)] == 1 and edges[(2, 3)] == 5
    assert (3, 3) not in edges
    assert len(edges) == 6  # 3 undirected edges


def test_matrix_market_pattern(tmp_path, spark):
    mm = tmp_path / "p.mtx"
    mm.write_text(
        "%%MatrixMarket matrix coordinate pattern symmetric\n"
        "3 3 2\n"
        "2 1\n"
        "3 1\n"
    )
    g = read_matrix_market(spark, str(mm))
    assert g.num_nodes() == 3
    assert g.total_edge_weight() == 4  # 2 undirected unit edges


def test_snap_relisted_edges_keep_weight_1(tmp_path, spark):
    f = tmp_path / "e.txt"
    f.write_text("# comment\n0\t1\n1\t0\n1\t2\n")
    g = read_snap(spark, str(f))
    edges = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert edges[(0, 1)] == 1 and edges[(1, 0)] == 1  # not 2
    assert edges[(1, 2)] == 1


def test_kagen_reader(tmp_path, spark):
    from kaminpar_spark.sources.kagen import read_kagen

    f = tmp_path / "g.kagen"
    f.write_text("p 4 3\ne 2 1\ne 1 2\ne 3 2\ne 4 3\n")  # 1->2 listed twice
    g = read_kagen(spark, str(f))
    g.validate()
    edges = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert edges[(0, 1)] == 1 and edges[(1, 0)] == 1  # dedup kept weight 1
    assert (1, 2) in edges and (2, 3) in edges
    assert len(edges) == 6


def test_hmetis_writer(tmp_path, spark):
    from kaminpar_spark.sources.kagen import write_hmetis

    g = fixtures.clique_pendant(spark)
    out = tmp_path / "g.hgr"
    write_hmetis(g, str(out))
    lines = out.read_text().strip().splitlines()
    n_he, n_nodes = int(lines[0].split()[0]), int(lines[0].split()[1])
    assert n_nodes == 6
    assert n_he == len(lines) - 1  # one line per 2-pin hyperedge
    # every hyperedge is a listed undirected edge, 1-based
    got = {tuple(sorted(int(x) - 1 for x in ln.split())) for ln in lines[1:]}
    want = {
        tuple(sorted((r["src"], r["dst"])))
        for r in g.edges.collect()
        if r["src"] < r["dst"]
    }
    assert got == want


def test_gnm_generator(spark):
    from kaminpar_spark.sources.generators import gnm_random

    g = gnm_random(spark, n=200, m=800, seed=7, num_partitions=4)
    g.validate()
    assert g.num_nodes() == 200
    half = g.num_half_edges()
    assert 1000 < half <= 1600  # dedup/self-loop removal shaves a little
    # deterministic
    g2 = gnm_random(spark, n=200, m=800, seed=7, num_partitions=8)
    assert g2.num_half_edges() == half


def test_rgg2d_generator_matches_brute_force(spark):
    import numpy as np

    from kaminpar_spark.sources.generators import rgg2d

    n, radius = 150, 0.12
    g = rgg2d(spark, n=n, radius=radius, seed=3, num_partitions=4)
    g.validate()
    # brute-force the same hash-derived coordinates
    pts = {
        r["id"]: (r["x"], r["y"])
        for r in spark.range(n)
        .selectExpr("id")
        .join(g.nodes.select("id"), "id")
        .collect()
        and []
    } or None
    # recompute coordinates through the same generator internals
    from kaminpar_spark.sources.generators import _mix64
    from pyspark.sql import functions as F

    scale = float(1 << 53)
    coord = (
        spark.range(n)
        .select(
            "id",
            (F.pmod(_mix64(F.col("id"), 3), F.lit(1 << 53)) / F.lit(scale)).alias("x"),
            (F.pmod(_mix64(F.col("id"), 4), F.lit(1 << 53)) / F.lit(scale)).alias("y"),
        )
        .collect()
    )
    xy = np.zeros((n, 2))
    for r in coord:
        xy[r["id"]] = (r["x"], r["y"])
    want = 0
    for a in range(n):
        for b in range(a + 1, n):
            if ((xy[a] - xy[b]) ** 2).sum() <= radius * radius:
                want += 1
    assert g.num_half_edges() == 2 * want

