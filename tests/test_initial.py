"""Driver-side initial partitioning: numpy oracles, brute force for n<=12."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from kaminpar_spark.plans.initial import (
    SmallGraph,
    bipartition_bfs,
    bipartition_caps,
    bipartition_ggg,
    bipartition_random,
    bipartition_score,
    cut_of,
    fm_refine_2way,
    lp_cluster_seq,
    pair_singletons,
    pool_bipartition,
    recursive_bisect,
)


def ring(n, w=None):
    src = np.concatenate([np.arange(n), (np.arange(n) + 1) % n])
    dst = np.concatenate([(np.arange(n) + 1) % n, np.arange(n)])
    ew = np.ones(2 * n, dtype=np.int64)
    nw = np.ones(n, dtype=np.int64) if w is None else np.asarray(w)
    return SmallGraph.from_edges(n, src, dst, ew, nw)


def two_cliques_np():
    e = []
    for base in (0, 4):
        e += [(base + u, base + v) for u in range(4) for v in range(u + 1, 4)]
    e.append((0, 4))
    src = np.array([a for a, b in e] + [b for a, b in e])
    dst = np.array([b for a, b in e] + [a for a, b in e])
    return SmallGraph.from_edges(8, src, dst, np.ones(len(src), dtype=np.int64), np.ones(8, dtype=np.int64))


def brute_force_best_cut(g, max_weight):
    best = None
    for bits in itertools.product([0, 1], repeat=g.n - 1):
        part = np.array((0,) + bits)
        bw = np.bincount(part, weights=g.nweights, minlength=2)
        if bw.max() > max_weight or bw.min() == 0:
            continue
        c = cut_of(g, part)
        if best is None or c < best:
            best = c
    return best


def test_cut_of_ring():
    g = ring(8)
    part = np.array([0, 0, 0, 0, 1, 1, 1, 1])
    assert cut_of(g, part) == 2


def test_pool_finds_optimal_two_cliques():
    g = two_cliques_np()
    part = pool_bipartition(g, epsilon=0.0, seed=1)
    assert cut_of(g, part) == 1
    assert np.bincount(part).tolist() == [4, 4]


def test_pool_matches_brute_force_ring():
    g = ring(10)
    max_w = (1 + 0.0) * 5
    want = brute_force_best_cut(g, max_w)
    part = pool_bipartition(g, epsilon=0.0, seed=3)
    assert cut_of(g, part) == want == 2


def test_fm_improves_bad_partition():
    g = two_cliques_np()
    bad = np.array([0, 1, 0, 1, 0, 1, 0, 1])
    # cap W/2 + max node weight: FM needs one node of slack to move at all
    ref = fm_refine_2way(g, bad, caps=(5, 5))
    assert cut_of(g, ref) < cut_of(g, bad)
    assert cut_of(g, ref) == 1


def test_fm_adaptive_stopping_matches_simple_quality():
    """AdaptiveStoppingPolicy (initial_refiner.h:85-151) behind the
    ``stopping`` flag: on an easy instance the random-walk test must find the
    same optimum as the fruitless-move counter, and it must stop (terminate)
    on a fruitless ring walk instead of exhausting the PQs."""
    g = two_cliques_np()
    bad = np.array([0, 1, 0, 1, 0, 1, 0, 1])
    ref = fm_refine_2way(g, bad, caps=(5, 5), stopping="adaptive")
    assert cut_of(g, ref) == 1
    rg = ring(50)
    balanced = np.array([0] * 25 + [1] * 25)
    out = fm_refine_2way(rg, balanced, caps=(26, 26), stopping="adaptive")
    assert cut_of(rg, out) <= cut_of(rg, balanced)


def test_bipartitioners_feasible():
    g = ring(20)
    rng = np.random.default_rng(0)
    for algo in (bipartition_random, bipartition_ggg):
        part = algo(g, (11, 11), rng)
        bw = np.bincount(part, weights=g.nweights, minlength=2)
        assert bw.max() <= 11
    for strat in ("alternating", "lighter", "sequential"):
        part = bipartition_bfs(g, (11, 11), rng, strat)
        assert set(np.unique(part)) <= {0, 1}
        assert len(part) == 20


def test_recursive_bisect_k4():
    g = ring(32)
    labels = recursive_bisect(g, 4, epsilon=0.03, seed=42)
    assert set(np.unique(labels)) == {0, 1, 2, 3}
    bw = np.bincount(labels, weights=g.nweights, minlength=4)
    assert bw.max() <= (1 + 0.03) * 8 + 1  # near-balanced
    assert cut_of(g, labels) >= 4  # ring k-way cut lower bound
    assert cut_of(g, labels) <= 8  # sane quality


def test_recursive_bisect_k3_non_power_of_two():
    g = ring(30)
    labels = recursive_bisect(g, 3, epsilon=0.1, seed=7)
    assert set(np.unique(labels)) == {0, 1, 2}
    bw = np.bincount(labels, weights=g.nweights, minlength=3)
    assert bw.max() <= (1 + 0.25) * 10  # adaptive eps gives slack per level


def test_weighted_feasibility():
    w = [8, 1, 1, 1, 1, 1, 1, 1]
    g = ring(8, w=w)
    part = pool_bipartition(g, epsilon=0.1, seed=5)
    bw = np.bincount(part, weights=g.nweights, minlength=2)
    # max block weight rule relaxed by max node weight for weighted graphs
    assert bw.max() <= max((1 + 0.1) * 8, 8 + 8)


# ---- E6/E7: sequential coarsener + hierarchy --------------------------------


def planted_two_cliques(size: int):
    """Two cliques of ``size`` nodes joined by one edge — planted optimum 1."""
    e = []
    for base in (0, size):
        e += [
            (base + u, base + v)
            for u in range(size)
            for v in range(u + 1, size)
        ]
    e.append((0, size))
    src = np.array([a for a, b in e] + [b for a, b in e])
    dst = np.array([b for a, b in e] + [a for a, b in e])
    n = 2 * size
    return SmallGraph.from_edges(
        n, src, dst, np.ones(len(src), dtype=np.int64), np.ones(n, dtype=np.int64)
    )


def test_lp_cluster_seq_respects_cap_and_shrinks():
    from kaminpar_spark.plans.initial import lp_cluster_seq

    g = planted_two_cliques(16)
    rng = np.random.default_rng(3)
    leader, moves = lp_cluster_seq(g, max_cluster_weight=4, rng=rng)
    assert moves > 0  # dense graph must shrink
    # leader values are fixpoints (depth-one chains resolved at read time)
    assert np.array_equal(leader[leader], leader)
    sizes = np.bincount(leader, weights=g.nweights, minlength=g.n)
    assert sizes.max() <= 4  # cluster cap respected


def test_contract_clustering_preserves_weight_and_cut():
    from kaminpar_spark.plans.initial import contract_clustering, lp_cluster_seq

    g = planted_two_cliques(12)
    rng = np.random.default_rng(11)
    leader, _ = lp_cluster_seq(g, max_cluster_weight=6, rng=rng)
    cg, mapping = contract_clustering(g, leader)
    assert cg.total_weight == g.total_weight
    assert cg.n == len(np.unique(leader))
    # any coarse partition projects to a fine partition with the SAME cut
    rng2 = np.random.default_rng(5)
    cpart = rng2.integers(0, 2, size=cg.n)
    assert cut_of(cg, cpart) == cut_of(g, cpart[mapping])


def test_multilevel_bipartition_finds_planted_cut():
    from kaminpar_spark.plans.initial import multilevel_bipartition

    g = planted_two_cliques(24)  # n=48 > IP_CONTRACTION_LIMIT: coarsening runs
    part = multilevel_bipartition(g, epsilon=0.03, seed=42)
    bw = np.bincount(part, weights=g.nweights, minlength=2)
    assert bw.max() <= (1 + 0.03) * 24 + 1
    assert cut_of(g, part) == 1  # the planted single-edge cut
    # never worse than the flat pool on the same graph
    flat = pool_bipartition(g, epsilon=0.03, seed=42)
    assert cut_of(g, part) <= cut_of(g, flat)


def test_recursive_bisect_multilevel_ring():
    g = ring(64)
    labels = recursive_bisect(g, 4, epsilon=0.03, seed=42)
    assert set(np.unique(labels)) == {0, 1, 2, 3}
    bw = np.bincount(labels, weights=g.nweights, minlength=4)
    assert bw.max() <= (1 + 0.03) * 16 + 1
    assert 4 <= cut_of(g, labels) <= 8


def test_repair_kway_fills_empty_blocks_and_overloads():
    from kaminpar_spark.plans.initial import repair_kway

    g = ring(12)
    caps = np.full(3, 4)
    out = repair_kway(g, np.zeros(12, dtype=np.int64), caps)  # all in block 0
    bw = np.bincount(out, weights=g.nweights, minlength=3)
    assert bw.max() <= 4 and (bw > 0).all()
    feasible = np.repeat([0, 1, 2], 4)
    assert (repair_kway(g, feasible, caps) == feasible).all()  # left unchanged


# ---- stalled-singleton pairing, input caps, pool early exit -----------------


def _favored(g, leader, u):
    """Plain-loop oracle: the adjacent cluster with the highest rating, ties
    to the smaller id (None for a node without neighbors)."""
    ratings = {}
    for j in range(g.indptr[u], g.indptr[u + 1]):
        c = int(leader[g.indices[j]])
        if c != u:
            ratings[c] = ratings.get(c, 0) + int(g.eweights[j])
    return min(ratings, key=lambda c: (-ratings[c], c)) if ratings else None


@st.composite
def clustered_graph(draw):
    """(graph, LP leader array, cluster cap) with n <= 40."""
    n = draw(st.integers(min_value=2, max_value=40))
    raw = draw(
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1), st.integers(1, 5)),
            max_size=3 * n,
        )
    )
    und = {(min(u, v), max(u, v)): w for u, v, w in raw if u != v}
    src = np.array([u for u, v in und] + [v for u, v in und], dtype=np.int64)
    dst = np.array([v for u, v in und] + [u for u, v in und], dtype=np.int64)
    ew = np.array(list(und.values()) * 2, dtype=np.int64)
    nw = np.array(draw(st.lists(st.integers(1, 6), min_size=n, max_size=n)))
    g = SmallGraph.from_edges(n, src, dst, ew, nw)
    lp_cap = draw(st.integers(1, 20))
    leader, _ = lp_cluster_seq(g, lp_cap, np.random.default_rng(draw(st.integers(0, 99))))
    return g, leader, draw(st.integers(1, 12))


@settings(max_examples=60, deadline=None, derandomize=True)
@given(case=clustered_graph())
def test_pair_singletons_properties(case):
    g, leader, max_cw = case
    out = pair_singletons(g, leader, max_cw)
    assert np.array_equal(out[out], out)  # leaders stay fixpoints
    single = np.bincount(leader, minlength=g.n)[leader] == 1
    assert np.array_equal(out[~single], leader[~single])  # clusters keep their leader
    sizes = np.bincount(out, minlength=g.n)
    for u in np.nonzero(out != leader)[0].tolist():
        a = int(out[u])
        assert single[a] and a < u and sizes[a] == 2
        assert g.nweights[a] + g.nweights[u] <= max_cw
        fav = _favored(g, leader, u)
        assert fav is not None and fav == _favored(g, leader, a)


def hub_and_leaves(leaves: int = 300) -> SmallGraph:
    """Node 0 adjacent to every leaf; each leaf also links to the next one
    in runs of three, unit weights. The hub's cluster fills up after a few
    leaves join it, and the remaining leaves neighbor only full clusters."""
    und = [(0, v) for v in range(1, leaves + 1)]
    und += [(v, v + 1) for v in range(1, leaves) if v % 3 != 0]
    und = np.array(und)
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    n = leaves + 1
    return SmallGraph.from_edges(
        n, src, dst, np.ones(len(src), dtype=np.int64), np.ones(n, dtype=np.int64)
    )


def test_hub_and_leaves_coarsening_does_not_stall(monkeypatch):
    from kaminpar_spark.plans import initial
    from kaminpar_spark.plans.initial import IP_CONTRACTION_LIMIT, multilevel_bipartition

    pooled = []
    pool = initial.pool_bipartition

    def recording_pool(g, *args, **kwargs):
        pooled.append(g.n)
        return pool(g, *args, **kwargs)

    monkeypatch.setattr(initial, "pool_bipartition", recording_pool)
    g = hub_and_leaves()
    part = multilevel_bipartition(g, epsilon=0.03, seed=42)
    # one pool call, on a coarsest graph below 2x the contraction limit: the
    # flat fallback on all 301 nodes did not fire
    assert len(pooled) == 1 and pooled[0] < 2 * IP_CONTRACTION_LIMIT, pooled
    caps = bipartition_caps(g, 0.03)
    assert bipartition_score(g, part, caps)[0] == 0


def _full_pool_loop(g, epsilon, seed, repetitions=4):
    """pool_bipartition without the early exit (repetitions below
    min_non_adaptive_reps, so no candidate is skipped)."""
    from kaminpar_spark.plans.initial import _PORTFOLIO

    caps = bipartition_caps(g, epsilon)
    rng = np.random.default_rng(seed)
    best = None
    for _ in range(repetitions):
        for _, algo in _PORTFOLIO:
            part = fm_refine_2way(g, algo(g, caps, rng), caps, rng=rng)
            bw = np.bincount(part, weights=g.nweights, minlength=2)
            infeasible = int(max(0, bw[0] - caps[0]) + max(0, bw[1] - caps[1]))
            if g.n >= 2 and (bw[0] == 0 or bw[1] == 0):
                infeasible += g.total_weight
            cand = (infeasible, cut_of(g, part))
            if best is None or cand < best[0]:
                best = (cand, part)
    return best[1]


@pytest.mark.parametrize("make", [
    lambda: SmallGraph.from_edges(
        64, np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.int64), np.ones(64, dtype=np.int64),
    ),
    lambda: planted_two_cliques(12),  # cut 1 at best: the pool runs to the end
    lambda: ring(30),
])
def test_pool_early_exit_matches_full_loop(make, monkeypatch):
    from kaminpar_spark.plans import initial

    g = make()
    full = _full_pool_loop(g, 0.03, seed=5)
    calls = []
    fm = initial.fm_refine_2way
    monkeypatch.setattr(initial, "fm_refine_2way", lambda *a, **kw: calls.append(1) or fm(*a, **kw))
    part = pool_bipartition(g, 0.03, seed=5)
    assert np.array_equal(part, full)
    if cut_of(g, full) == 0:
        assert len(calls) < 4 * len(initial._PORTFOLIO)  # the exit fired
