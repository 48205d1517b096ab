"""Bit-identity pins for the driver kernels in plans/initial.py.

The kernels run on plain-list CSR with incremental (+-2w) FM gains; their
labels must stay exactly those of the straightforward numpy formulation they
replaced. Each case hashes the labels (and, for LP clustering, the move
count) over a fixed graph set: the reference's weighted 2x4 grid, a weighted
Erdos-Renyi graph with a hub overlay, and a planted-community graph with one
hub adjacent to every node. Any label change fails the test.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from kaminpar_spark.plans.initial import (
    SmallGraph,
    best_of_bisections,
    bipartition_bfs,
    bipartition_caps,
    bipartition_ggg,
    bipartition_random,
    fm_refine_2way,
    lp_cluster_seq,
)


def _sym(n, und, ew, nw):
    und = np.asarray(und, dtype=np.int64)
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    return SmallGraph.from_edges(n, src, dst, np.concatenate([ew, ew]), np.asarray(nw))


def grid8() -> SmallGraph:
    """2x4 grid with node weights 2^i (graph_test.cc:32-44 CSR literal)."""
    nodes = [0, 2, 6, 10, 13, 16, 20, 24, 26]
    edges = [1, 4, 0, 4, 5, 2, 1, 5, 6, 3, 2, 6, 7, 0, 1, 5, 4, 1, 2, 6, 5, 2, 3, 7, 6, 3]
    und = sorted(
        {(min(u, edges[j]), max(u, edges[j])) for u in range(8) for j in range(nodes[u], nodes[u + 1])}
    )
    return _sym(8, und, np.ones(len(und), dtype=np.int64), [2**i for i in range(8)])


def weighted_er(n: int = 240, p: float = 0.03, seed: int = 5) -> SmallGraph:
    """G(n, p) plus a 3-hub overlay, edge weights 1..5, node weights 1..4."""
    rng = np.random.default_rng(seed)
    iu, ju = np.triu_indices(n, k=1)
    mask = rng.random(iu.shape[0]) < p
    src, dst = [iu[mask]], [ju[mask]]
    for h in range(3):
        t = rng.choice(n, size=n // 10, replace=False)
        t = t[t != h]
        src.append(np.full(len(t), h))
        dst.append(t)
    s, d = np.concatenate(src), np.concatenate(dst)
    und = np.unique(np.stack([np.minimum(s, d), np.maximum(s, d)], axis=1), axis=0)
    return _sym(n, und, rng.integers(1, 6, size=len(und)), rng.integers(1, 5, size=n))


def planted_hub(groups: int = 4, size: int = 40, seed: int = 9) -> SmallGraph:
    """``groups`` dense communities (p_in 0.25, p_out 0.01) plus node 0 as a
    hub adjacent to every other node, unit weights."""
    rng = np.random.default_rng(seed)
    n = groups * size
    iu, ju = np.triu_indices(n, k=1)
    same = (iu // size) == (ju // size)
    mask = rng.random(iu.shape[0]) < np.where(same, 0.25, 0.01)
    und = {(int(a), int(b)) for a, b in zip(iu[mask], ju[mask])}
    und |= {(0, v) for v in range(1, n)}
    und = sorted(und)
    return _sym(n, und, np.ones(len(und), dtype=np.int64), np.ones(n, dtype=np.int64))


GRAPHS = {"grid8": grid8, "weighted_er": weighted_er, "planted_hub": planted_hub}


def _h(*arrays) -> str:
    md5 = hashlib.md5()
    for a in arrays:
        md5.update(np.asarray(a, dtype=np.int64).tobytes())
    return md5.hexdigest()[:12]


def kernel_hashes(g: SmallGraph) -> dict[str, str]:
    caps = bipartition_caps(g, 0.03)
    out = {}
    out["random"] = _h(bipartition_random(g, caps, np.random.default_rng(1)))
    for strategy in ("alternating", "lighter", "sequential", "longer_queue", "shorter_queue"):
        out[f"bfs_{strategy}"] = _h(bipartition_bfs(g, caps, np.random.default_rng(2), strategy))
    out["ggg"] = _h(bipartition_ggg(g, caps, np.random.default_rng(3)))
    start = np.random.default_rng(4).integers(0, 2, size=g.n)
    for stopping in ("simple", "adaptive"):
        out[f"fm_{stopping}"] = _h(
            fm_refine_2way(g, start, caps, rng=np.random.default_rng(5), stopping=stopping)
        )
    grown = bipartition_bfs(g, caps, np.random.default_rng(6), "alternating")
    out["fm_after_bfs"] = _h(fm_refine_2way(g, grown, caps, fruitless_moves=10))
    leader, moves = lp_cluster_seq(g, max(1, g.total_weight // 12), np.random.default_rng(7))
    out["lp_cluster_seq"] = _h(leader, [moves])
    for k in (4, 8):  # t1: one sequential chain per bisection
        out[f"best_of_k{k}_t1"] = _h(best_of_bisections(g, k, 0.03, seeds=[42, 42 + 7919]))
    return out


# recorded with the numpy-slice kernels (per-move gain recomputation,
# list.pop(0) BFS queues) that the list-based kernels replaced; the
# best_of pins of planted_hub and weighted_er since the driver coarsener
# pairs stalled singletons and pools its coarsest graph under the input's
# caps (grid8 is below the contraction limit and never coarsens)
EXPECTED = {
    "grid8": {
        "random": "eebd671a8e15", "bfs_alternating": "a7a78791daf0",
        "bfs_lighter": "46a254bf46ed", "bfs_sequential": "3b5d3c7d207e",
        "bfs_longer_queue": "3b5d3c7d207e", "bfs_shorter_queue": "9e56eb97cb75",
        "ggg": "3b5d3c7d207e", "fm_simple": "bb9a9e079341", "fm_adaptive": "bb9a9e079341",
        "fm_after_bfs": "3b5d3c7d207e", "lp_cluster_seq": "76a6a8be3800",
        "best_of_k4_t1": "3b5d3c7d207e", "best_of_k8_t1": "3b5d3c7d207e",
    },
    "planted_hub": {
        "random": "e0cbbb57d622", "bfs_alternating": "e7e58f321674",
        "bfs_lighter": "1b0f6dca70e4", "bfs_sequential": "6fc8b840ccf0",
        "bfs_longer_queue": "a5058431022a", "bfs_shorter_queue": "84617d0a5c01",
        "ggg": "7a2439c4bf8e", "fm_simple": "18253e1237ff", "fm_adaptive": "791cc97cbb9f",
        "fm_after_bfs": "95fb90241ec8", "lp_cluster_seq": "4c5ed44e2692",
        "best_of_k4_t1": "d753a56e3e11", "best_of_k8_t1": "9f43c3a4a888",
    },
    "weighted_er": {
        "random": "796ecc4a8911", "bfs_alternating": "e81148bf7b6f",
        "bfs_lighter": "fbcea38632f3", "bfs_sequential": "ab0ba2734ac4",
        "bfs_longer_queue": "c9ef05ca26d7", "bfs_shorter_queue": "7a08fb781e0c",
        "ggg": "7d72bdd6f523", "fm_simple": "ffff21684701", "fm_adaptive": "6781b7534f19",
        "fm_after_bfs": "bcc0f359599e", "lp_cluster_seq": "c5e113b64d34",
        "best_of_k4_t1": "7fd875986591", "best_of_k8_t1": "a74830fd719a",
    },
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_kernel_labels_bit_identical(name):
    assert kernel_hashes(GRAPHS[name]()) == EXPECTED[name]

