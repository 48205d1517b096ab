"""Driver-side partitioning of driver-sized graphs (SURVEY.md §2.10).

The partitioner runs Spark coarsening levels only while a level is above
its in-memory budget (``Partitioner.IN_MEMORY_HALF_EDGES``). The level it
stops at, which is the whole input graph when that fits, is collected to the
driver and partitioned here (the Spark analog of the reference running
initial partitioning in shared memory,
partitioning_scheme/parallel_recursive_bisection.cc:73-123). The same
kernels also run inside every ``extend_partition`` task. Everything here is
numpy plus plain-list CSR loops with heapq, seeded and deterministic:

- bipartitioner portfolio: random (random_bipartitioner.h:20-29), BFS growers
  with block-selection strategies (bfs_bipartitioner.h:84-164), greedy graph
  growing (greedy_graph_growing_bipartitioner.cc:4-61)
- 2-way FM refinement with rollback to the best prefix and a fruitless-move
  stop (initial_refiner.h:162-416)
- pool: repetitions x algorithms, keep best by (feasible, cut, imbalance)
  (pool_bipartitioner.h:120-220), stopping at a feasible zero cut
- sequential multilevel bisection (initial_partitioning_facade.h:47-110): LP
  clustering with favored-cluster pairing of stalled singletons
  (parallel_label_propagation_coarsener.h:83-114) down to ~20 nodes, the
  pool on the coarsest graph under the caps of the graph being bisected,
  then projection + FM per level
- recursive bisection to k with adaptive epsilon per level (helper.cc:87-176,
  context.cc:384-393) and ceil/floor k splitting (utility/math.h:51)
- a greedy k-way repair (empty blocks, overloads) that the partitioner runs
  on every driver result before a Spark level refines it or it is returned
"""

from __future__ import annotations

import heapq
import math
from collections import deque
from dataclasses import dataclass
from functools import cached_property

import numpy as np

from kaminpar_spark.functions.rules import adaptive_epsilon, split_integral


@dataclass
class SmallGraph:
    """CSR graph on the driver. indptr: n+1, indices/eweights: m (half-edges)."""

    indptr: np.ndarray
    indices: np.ndarray
    eweights: np.ndarray
    nweights: np.ndarray

    @property
    def n(self) -> int:
        return len(self.indptr) - 1

    @property
    def total_weight(self) -> int:
        return int(self.nweights.sum())

    @cached_property
    def csr(self) -> tuple[list[int], list[int], list[int], list[int]]:
        """(indptr, indices, eweights, nweights) as Python lists. The
        sequential kernels below touch one element at a time, and list
        indexing is several times cheaper than a numpy scalar access."""
        return (
            self.indptr.tolist(), self.indices.tolist(),
            self.eweights.tolist(), self.nweights.tolist(),
        )

    @staticmethod
    def from_edges(n: int, src: np.ndarray, dst: np.ndarray, w: np.ndarray, nw: np.ndarray) -> "SmallGraph":
        order = np.argsort(src, kind="stable")
        src, dst, w = src[order], dst[order], w[order]
        indptr = np.zeros(n + 1, dtype=np.int64)
        np.add.at(indptr, src + 1, 1)
        indptr = np.cumsum(indptr)
        return SmallGraph(indptr, dst.astype(np.int64), w.astype(np.int64), nw.astype(np.int64))


def _sources(g: SmallGraph) -> np.ndarray:
    """Source node of every half-edge (the CSR row index)."""
    return np.repeat(np.arange(g.n), np.diff(g.indptr))


def cut_of(g: SmallGraph, part: np.ndarray) -> int:
    cross = part[_sources(g)] != part[g.indices]
    return int(g.eweights[cross].sum() // 2)


def _block_weights(g: SmallGraph, part: np.ndarray, k: int = 2) -> np.ndarray:
    return np.bincount(part, weights=g.nweights, minlength=k).astype(np.int64)


def bipartition_random(g: SmallGraph, caps: tuple[float, float], rng: np.random.Generator) -> np.ndarray:
    """Random block, fall back to the other on overflow (random_bipartitioner.h:20-29).
    ``caps`` are per-side max weights (supports k1:k2 ratio splits)."""
    nweights = g.csr[3]
    part = [0] * g.n
    bw = [0, 0]
    for u in rng.permutation(g.n).tolist():
        b = int(rng.integers(0, 2))
        if bw[b] + nweights[u] > caps[b]:
            b = 1 - b
        part[u] = b
        bw[b] += nweights[u]
    return np.array(part, dtype=np.int64)


def _pseudo_peripheral(g: SmallGraph, rng: np.random.Generator) -> tuple[int, int]:
    """BFS from a random node, take the farthest; repeat once
    (graph_utils.cc:317-360)."""
    indptr, indices = g.csr[:2]

    def bfs_far(s):
        seen = [False] * g.n
        seen[s] = True
        q = [s]
        last = s
        while q:
            nq = []
            for u in q:
                for v in indices[indptr[u]:indptr[u + 1]]:
                    if not seen[v]:
                        seen[v] = True
                        nq.append(v)
                        last = v
            q = nq
        return last

    s = int(rng.integers(0, g.n))
    a = bfs_far(s)
    b = bfs_far(a)
    return a, b


def bipartition_bfs(
    g: SmallGraph, caps: tuple[float, float], rng: np.random.Generator, strategy: str = "alternating"
) -> np.ndarray:
    """Grow two blocks by BFS from pseudo-peripheral seeds; block switching by
    strategy (bfs_bipartitioner.h:20-57: alternating | lighter | sequential |
    longer_queue | shorter_queue)."""
    a, b = _pseudo_peripheral(g, rng)
    indptr, indices, _, nweights = g.csr
    n = g.n
    part = [-1] * n
    queues = [deque([a]), deque([b])]
    bw = [0, 0]
    cur = 0
    assigned = 0
    first_free = 0  # every node below this index is assigned
    bounced = [False] * n  # each node may be rerouted once only
    while assigned < n:
        if strategy == "alternating":
            cur = 1 - cur
        elif strategy == "lighter":
            cur = 0 if bw[0] <= bw[1] else 1
        # sequential: fill block 0 to its target weight, then block 1
        elif strategy == "sequential":
            cur = 0 if bw[0] + 1 <= caps[0] / 1.0 - 1 else 1
        # queue-length strategies (bfs_bipartitioner.h:43-57): pick the block
        # whose BFS frontier is longer (resp. shorter)
        elif strategy == "longer_queue":
            cur = 1 if len(queues[0]) < len(queues[1]) else 0
        elif strategy == "shorter_queue":
            cur = 0 if len(queues[0]) < len(queues[1]) else 1
        q = queues[cur]
        moved = False
        while q:
            u = q.popleft()
            if part[u] >= 0:
                continue
            wu = nweights[u]
            if (
                not bounced[u]
                and bw[cur] + wu > caps[cur]
                and bw[1 - cur] + wu <= caps[1 - cur]
            ):
                bounced[u] = True
                queues[1 - cur].append(u)
                continue
            part[u] = cur
            bw[cur] += wu
            assigned += 1
            q.extend(v for v in indices[indptr[u]:indptr[u + 1]] if part[v] < 0)
            moved = True
            break
        if not moved:
            # queue exhausted: seed from the lowest unassigned node
            while part[first_free] >= 0:
                first_free += 1
            queues[cur].append(first_free)
    return np.array(part, dtype=np.int64)


def bipartition_ggg(g: SmallGraph, caps: tuple[float, float], rng: np.random.Generator) -> np.ndarray:
    """Greedy graph growing: start all in V0, grow V1 from a random seed by
    max gain until V1 reaches its target weight
    (greedy_graph_growing_bipartitioner.cc:4-61)."""
    indptr, indices, eweights, nweights = g.csr
    target = g.total_weight - min(caps[0], g.total_weight)  # leave V0 within cap
    seed = int(rng.integers(0, g.n))
    # gain of moving each node to V1 = weight to V1 - weight to V0; every
    # node starts in V0, and each move into V1 adds 2w to its neighbors
    live = np.zeros(g.n, dtype=np.int64)
    np.subtract.at(live, _sources(g), g.eweights)
    live = live.tolist()
    gain = {}  # node -> gain it was queued with
    pq = []  # (-gain, node)
    in_v1 = [False] * g.n

    def push(u):
        gain[u] = live[u]
        heapq.heappush(pq, (-live[u], u))

    push(seed)
    w1 = 0
    while pq and w1 < target:
        ng, u = heapq.heappop(pq)
        if in_v1[u] or -ng != gain.get(u):
            continue
        in_v1[u] = True
        w1 += nweights[u]
        s, e = indptr[u], indptr[u + 1]
        for j in range(s, e):
            live[indices[j]] += 2 * eweights[j]
        for v in indices[s:e]:
            if not in_v1[v]:
                push(v)
    return np.array(in_v1, dtype=np.int64)


def fm_refine_2way(
    g: SmallGraph,
    part: np.ndarray,
    caps: tuple[float, float] | float,
    max_iterations: int = 5,
    fruitless_moves: int = 100,
    rng: np.random.Generator | None = None,
    stopping: str = "simple",
    alpha: float = 1.0,
) -> np.ndarray:
    """2-way FM with per-block PQs, rollback to the best accepted prefix, and
    a configurable stop (initial_refiner.h:162-416). Selection policy:
    prefer moving out of the heavier block when both PQs nonempty
    (MaxOverloadSelectionPolicy, initial_refiner.h:60-105).

    ``stopping='simple'``: stop after ``fruitless_moves`` unaccepted moves
    (SimpleStoppingPolicy). ``stopping='adaptive'``: the KaHyPar random-walk
    test (AdaptiveStoppingPolicy, initial_refiner.h:85-151): model the gain
    sequence since the last accepted cut as a random walk with running mean
    Mk and sample variance; stop once steps > sqrt(n) and (Mk == 0 or
    steps >= variance / Mk^2 * (alpha/2 - 0.25)) — i.e. when further
    improvement is statistically unlikely. alpha default 1.0
    (context.h:169).

    Gains are computed once per pass and updated by +-2w(e) per move
    (initial_refiner.h:285-307); ``rng`` is accepted for call-site symmetry
    with the bipartitioners and not drawn from."""
    assert stopping in ("simple", "adaptive")
    if not isinstance(caps, tuple):
        caps = (caps, caps)
    indptr, indices, eweights, nweights = g.csr
    src = _sources(g)
    beta = math.sqrt(g.n)
    factor = alpha / 2.0 - 0.25
    part = part.copy()
    for _ in range(max_iterations):
        bw = _block_weights(g, part).tolist()
        gains_np = np.zeros(g.n, dtype=np.int64)
        same = part[src] == part[g.indices]
        np.add.at(gains_np, src, np.where(same, -g.eweights, g.eweights))
        gains = gains_np.tolist()
        p = part.tolist()
        pqs = [[], []]
        valid = [{}, {}]
        for u in range(g.n):
            b = p[u]
            pqs[b].append((-gains[u], u))
            valid[b][u] = gains[u]
        heapq.heapify(pqs[0])
        heapq.heapify(pqs[1])
        moved_order: list[int] = []
        cum_gain = 0
        best_gain, best_prefix = 0, 0
        locked = [False] * g.n
        fruitless = 0
        walk = _Welford()  # gain sequence since the last accepted cut

        def should_stop() -> bool:
            if stopping == "simple":
                return fruitless >= fruitless_moves
            if walk.count <= beta:
                return False
            mk = walk.mean
            if mk == 0:
                return True
            var = walk.m2 / (walk.count - 1) if walk.count > 1 else 0.0
            return walk.count >= (var / (mk * mk)) * factor

        while (pqs[0] or pqs[1]) and not should_stop():
            b = 0 if bw[0] >= bw[1] else 1
            if not pqs[b]:
                b = 1 - b
            ng, u = heapq.heappop(pqs[b])
            if locked[u] or valid[b].get(u) != -ng:
                continue
            del valid[b][u]
            wu = nweights[u]
            if bw[1 - b] + wu > caps[1 - b]:
                continue
            # move u
            p[u] = 1 - b
            bw[b] -= wu
            bw[1 - b] += wu
            locked[u] = True
            moved_order.append(u)
            cum_gain += -ng
            walk.update(float(-ng))
            if cum_gain > best_gain:
                best_gain, best_prefix = cum_gain, len(moved_order)
                fruitless = 0
                walk = _Welford()  # policy reset on accepted cut
            else:
                fruitless += 1
            # neighbor gains (initial_refiner.h:285-307): an edge to a node
            # still in u's old block turns cut (+2w), one to a node in u's
            # new block turns internal (-2w). Apply every delta before
            # queueing, so a repeated neighbor is queued at its final gain.
            s, e = indptr[u], indptr[u + 1]
            for j in range(s, e):
                v = indices[j]
                if not locked[v]:
                    gains[v] += 2 * eweights[j] if p[v] == b else -2 * eweights[j]
            for v in indices[s:e]:
                if not locked[v]:
                    vb = p[v]
                    valid[vb][v] = gains[v]
                    heapq.heappush(pqs[vb], (-gains[v], v))
        # rollback to best prefix (initial_refiner.h:320)
        for u in moved_order[best_prefix:]:
            p[u] = 1 - p[u]
        part = np.array(p, dtype=part.dtype)
        if best_gain == 0:
            break
    return part


_PORTFOLIO = [
    ("random", bipartition_random),
    ("bfs_alternating", lambda g, c, rng: bipartition_bfs(g, c, rng, "alternating")),
    ("bfs_lighter", lambda g, c, rng: bipartition_bfs(g, c, rng, "lighter")),
    ("bfs_sequential", lambda g, c, rng: bipartition_bfs(g, c, rng, "sequential")),
    ("bfs_longer_queue", lambda g, c, rng: bipartition_bfs(g, c, rng, "longer_queue")),
    ("bfs_shorter_queue", lambda g, c, rng: bipartition_bfs(g, c, rng, "shorter_queue")),
    ("ggg", bipartition_ggg),
]


class _Welford:
    """Running mean/variance of feasible cuts per bipartitioner — the adaptive
    selection statistic (pool_bipartitioner.h:149-153 running_statistics)."""

    def __init__(self):
        self.count = 0
        self.mean = 0.0
        self.m2 = 0.0

    def update(self, x: float) -> None:
        self.count += 1
        d = x - self.mean
        self.mean += d / self.count
        self.m2 += d * (x - self.mean)

    def get(self) -> tuple[float, float]:
        var = self.m2 / self.count if self.count > 0 else 0.0
        return self.mean, var


def pool_bipartition(
    g: SmallGraph,
    epsilon: float,
    seed: int = 42,
    repetitions: int = 4,
    ratio: tuple[int, int] = (1, 1),
    adaptive: bool = True,
    min_non_adaptive_reps: int = 5,
    caps: tuple[float, float] | None = None,
) -> np.ndarray:
    """Portfolio + select best (feasible, cut) (pool_bipartitioner.h:120-220,
    helper.h:77-104). Every candidate is FM-refined before scoring. ``ratio``
    = (k1, k2) sets per-side target weights W*k1/k and W*k2/k (the reference
    bisects toward the final_k split, helper.cc:87-176).

    ``caps`` are the per-side max weights; by default
    ``bipartition_caps(g, epsilon, ratio)``. The coarsest graph of a
    multilevel bisection passes the caps of the graph being bisected: caps
    recomputed from the coarse graph would take the largest cluster weight
    as their slack, and a result within them can overload the input.

    ``adaptive=True`` mirrors use_adaptive_bipartitioner_selection: after
    ``min_non_adaptive_reps`` runs, a bipartitioner only runs again while it
    is statistically likely to beat the best cut — variance > ((mean -
    best_cut)/2)^2 (pool_bipartitioner.h:149-153). The pool returns as soon
    as a candidate is feasible with cut 0: no later one can beat it, and the
    rng is local to the call, so the labels are those of the full loop."""
    if g.n == 0:
        return np.zeros(0, dtype=np.int64)
    if caps is None:
        caps = bipartition_caps(g, epsilon, ratio)
    rng = np.random.default_rng(seed)
    best = None  # ((infeasible, cut), part)
    stats = [_Welford() for _ in _PORTFOLIO]

    def likely_to_improve(i: int) -> bool:
        if best is None or best[0][0] > 0:  # no feasible best yet
            return True
        mean, var = stats[i].get()
        rhs = (mean - float(best[0][1])) / 2
        return var > rhs * rhs

    for rep in range(repetitions):
        for i, (name, algo) in enumerate(_PORTFOLIO):
            if adaptive and rep >= min_non_adaptive_reps and not likely_to_improve(i):
                continue
            part = algo(g, caps, rng)
            part = fm_refine_2way(g, part, caps, rng=rng)
            bw = _block_weights(g, part)
            infeasible = int(max(0, bw[0] - caps[0]) + max(0, bw[1] - caps[1]))
            if g.n >= 2 and (bw[0] == 0 or bw[1] == 0):
                infeasible += g.total_weight  # empty side = worst infeasibility
            cut = cut_of(g, part)
            if infeasible == 0:
                stats[i].update(float(cut))
            cand = (infeasible, cut)
            if best is None or cand < best[0]:
                best = (cand, part)
                if cand == (0, 0):
                    return part
    return best[1]


def recursive_bisect(
    g: SmallGraph,
    k: int,
    epsilon: float,
    seed: int = 42,
    k_final: int | None = None,
    total_weight_root: int | None = None,
    final_k: int | None = None,
) -> np.ndarray:
    """Recursive bisection to k blocks (helper.cc:87-176
    extend_partition_recursive). ``final_k`` (>= k) is how many of the FINAL
    blocks this subgraph will eventually host: the bipartition ratio and
    adaptive epsilon follow split_integral(final_k) — NOT split_integral(k) —
    exactly like the reference's InitialPartitioner(final_k)
    (initial_partitioning_facade.h:28-38, context.cc:370-393), and each
    recursion side carries (k_i, final_k_i). With final_k == k (the default)
    this reduces to plain bisection toward k.

    Every bisection runs the sequential multilevel pipeline (E6/E7,
    multilevel_bipartition), as the reference's InitialPartitioner does."""
    final_k = final_k or k
    k_final = k_final or final_k
    total_weight_root = total_weight_root or g.total_weight
    if k <= 1 or g.n == 0:
        return np.zeros(g.n, dtype=np.int64)
    assert final_k >= k, (k, final_k)
    eps_prime = adaptive_epsilon(
        epsilon, k_final, final_k, total_weight_root, g.total_weight
    )
    fk1, fk2 = split_integral(final_k)
    k1, k2 = split_integral(k)
    part = multilevel_bipartition(g, eps_prime, seed=seed, ratio=(fk1, fk2))
    if k1 == 1 and k2 == 1:
        return part
    out = np.zeros(g.n, dtype=np.int64)
    for side, k_side, fk_side, offset in ((0, k1, fk1, 0), (1, k2, fk2, k1)):
        members = np.nonzero(part == side)[0]
        if len(members) == 0:
            continue
        remap = -np.ones(g.n, dtype=np.int64)
        remap[members] = np.arange(len(members))
        src = _sources(g)
        mask = (remap[src] >= 0) & (remap[g.indices] >= 0)
        sub = SmallGraph.from_edges(
            len(members),
            remap[src[mask]],
            remap[g.indices[mask]],
            g.eweights[mask],
            g.nweights[members],
        )
        sub_part = recursive_bisect(
            sub, k_side, epsilon, seed=seed + offset + 1,
            k_final=k_final, total_weight_root=total_weight_root,
            final_k=fk_side,
        )
        out[members] = offset + sub_part
    return out


# ---- E6/E7: sequential initial coarsener + graph hierarchy --------------
#
# The reference never pool-bipartitions a large graph directly: each
# InitialPartitioner call first coarsens its subgraph SEQUENTIALLY with a
# lock-based LP clustering (initial_coarsener.cc:30-137) down to ~20 nodes,
# bipartitions the tiny coarsest graph, then pops the hierarchy
# (sequential_graph_hierarchy.cc:6-45) projecting + 2-way-FM-refining at
# every level (initial_partitioning_facade.h:47-110). Same here, in numpy —
# the graphs are already driver-sized (the coarsest distributed graph or an
# extend_partition block), so this is a per-call micro-multilevel, not a
# distributed stage.

IP_CONTRACTION_LIMIT = 20  # i_ctx.coarsening.contraction_limit (context.cc:304)
IP_CONVERGENCE_THRESHOLD = 0.05  # context.cc:305
IP_CLUSTER_WEIGHT_MULTIPLIER = 1.0 / 12.0  # BLOCK_WEIGHT x 1/12 (context.cc:306-307)


def lp_cluster_seq(
    g: SmallGraph, max_cluster_weight: int, rng: np.random.Generator
) -> tuple[np.ndarray, int]:
    """One sequential LP clustering pass (initial_coarsener.cc:92-137).
    Returns (leader, moves). Visit nodes in a shuffled order; an unlocked
    node joins the neighboring cluster with the largest incident edge weight
    that stays under ``max_cluster_weight`` (ties broken by coin flip,
    pick_cluster_from_rating_map initial_coarsener.cc:71-90), locking the
    chosen leader. Leader values are fixpoints: a stored leader is its own
    leader and locked, so chains never exceed depth one."""
    indptr, indices, eweights, nweights = g.csr
    leader = list(range(g.n))
    cweight = list(nweights)
    locked = [False] * g.n
    moves = 0
    for u in rng.permutation(g.n).tolist():
        if locked[u]:
            continue
        s, e = indptr[u], indptr[u + 1]
        if s == e:
            continue
        ratings: dict[int, int] = {}
        for j in range(s, e):
            c = leader[indices[j]]
            ratings[c] = ratings.get(c, 0) + eweights[j]
        uw = nweights[u]
        best, best_gain = u, 0
        for c, gain in ratings.items():
            if c == u:
                continue
            if (gain > best_gain or (gain == best_gain and best != u and rng.random() < 0.5)) \
                    and cweight[c] + uw <= max_cluster_weight:
                best, best_gain = c, gain
        if best != u:
            leader[u] = best
            locked[best] = True
            cweight[best] += uw
            moves += 1
    return np.array(leader, dtype=np.int64), moves


def pair_singletons(g: SmallGraph, leader: np.ndarray, max_cluster_weight: int) -> np.ndarray:
    """Favored-cluster singleton pairing, the driver form of the Spark
    coarsener's ``merge_singleton_clusters``
    (parallel_label_propagation_coarsener.h:83-114). Every singleton (a
    cluster of one node) with a neighbor favors the adjacent cluster with the
    highest rating, ignoring the cap, ties to the smaller id. Within a
    favored cluster, consecutive singletons in id order form pairs under the
    smaller id; a pair heavier than ``max_cluster_weight`` stays apart. Other
    clusters keep their leader, so leader values stay fixpoints."""
    n = g.n
    single = np.bincount(leader, minlength=n)[leader] == 1
    src, c = _sources(g), leader[g.indices]
    keep = single[src] & (c != src)
    if not keep.any():
        return leader
    key, inv = np.unique(src[keep] * n + c[keep], return_inverse=True)
    rating = np.bincount(inv, weights=g.eweights[keep])
    u, c = key // n, key % n
    order = np.lexsort((c, -rating, u))  # per singleton: best rating, then smallest id
    first = order[np.r_[True, u[order][1:] != u[order][:-1]]]
    u, fav = u[first], c[first]
    order = np.lexsort((u, fav))
    u, fav = u[order], fav[order]
    starts = np.r_[True, fav[1:] != fav[:-1]]
    rank = np.arange(len(u)) - np.maximum.accumulate(np.where(starts, np.arange(len(u)), 0))
    a = np.nonzero((rank % 2 == 0)[:-1] & (fav[1:] == fav[:-1]))[0]
    a = a[g.nweights[u[a]] + g.nweights[u[a + 1]] <= max_cluster_weight]
    out = leader.copy()
    out[u[a + 1]] = u[a]
    return out


def contract_clustering(g: SmallGraph, leader: np.ndarray) -> tuple[SmallGraph, np.ndarray]:
    """Contract a leader clustering: (coarse graph, node mapping fine->coarse)
    (initial_coarsener.cc:139-267 contract_current_clustering; coarse ids are
    dense but in sorted-leader order rather than first-appearance order — an
    id relabeling only, partition semantics unchanged)."""
    leaders, mapping = np.unique(leader, return_inverse=True)
    c_n = len(leaders)
    c_nw = np.bincount(mapping, weights=g.nweights, minlength=c_n).astype(np.int64)
    c_src, c_dst = mapping[_sources(g)], mapping[g.indices]
    keep = c_src != c_dst  # drop intra-cluster edges
    key = c_src[keep] * c_n + c_dst[keep]
    uniq, inv = np.unique(key, return_inverse=True)
    w = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(w, inv, g.eweights[keep])
    return (
        SmallGraph.from_edges(c_n, uniq // c_n, uniq % c_n, w, c_nw),
        mapping,
    )


def multilevel_bipartition(
    g: SmallGraph,
    epsilon: float,
    seed: int = 42,
    repetitions: int = 4,
    ratio: tuple[int, int] = (1, 1),
) -> np.ndarray:
    """Sequential multilevel bipartitioning (E6+E7): LP-coarsen to
    ~IP_CONTRACTION_LIMIT nodes under the BLOCK_WEIGHT/12 cluster cap
    (compute_max_cluster_weight context.cc:395-416 with the bipartition
    context's k=2), pool-bipartition the coarsest graph, then pop the
    hierarchy with projection + 2-way FM per level.

    A pass that leaves more than half as many clusters as nodes (the Spark
    coarsener's trigger) pairs the remaining singletons by favored cluster
    (``pair_singletons``), so nodes whose only neighbors are full clusters
    (the leaves of a hub) cannot stall coarsening; the shrink test counts
    the distinct leaders. The caps of ``g`` bound the coarsest-graph pool and
    every FM pass. Falls back to the flat pool result if the multilevel one
    ends infeasible where flat is better (select_best ordering,
    helper.h:77-104)."""
    if g.n == 0:
        return np.zeros(0, dtype=np.int64)
    rng = np.random.default_rng(seed ^ 0x9E3779B9)
    caps = bipartition_caps(g, epsilon, ratio)
    max_cw = int(IP_CLUSTER_WEIGHT_MULTIPLIER * (1 + epsilon) * g.total_weight / 2)
    hierarchy: list[tuple[SmallGraph, np.ndarray]] = []
    cur = g
    while cur.n > IP_CONTRACTION_LIMIT:
        leader, _ = lp_cluster_seq(cur, max_cw, rng)
        c_n = np.count_nonzero(leader == np.arange(cur.n))  # leaders are fixpoints
        if c_n > cur.n / 2:  # shrank by less than half (coarsener.h:74-76)
            leader = pair_singletons(cur, leader, max_cw)
            c_n = np.count_nonzero(leader == np.arange(cur.n))
        if (1.0 - c_n / cur.n) <= IP_CONVERGENCE_THRESHOLD:
            break  # converged: not shrinking (facade coarsen loop, :77-90)
        cg, mapping = contract_clustering(cur, leader)
        hierarchy.append((cur, mapping))
        cur = cg
    part = pool_bipartition(
        cur, epsilon, seed=seed, repetitions=repetitions, ratio=ratio, caps=caps
    )

    for fine, mapping in reversed(hierarchy):
        part = part[mapping]
        part = fm_refine_2way(fine, part, caps, rng=rng)

    if hierarchy:
        score = bipartition_score(g, part, caps)
        if score[0] > 0:
            flat = pool_bipartition(
                g, epsilon, seed=seed, repetitions=repetitions, ratio=ratio, caps=caps
            )
            if bipartition_score(g, flat, caps) < score:
                return flat
    return part


def bipartition_caps(
    g: SmallGraph, epsilon: float, ratio: tuple[int, int] = (1, 1)
) -> tuple[float, float]:
    """The 2-way block-weight caps every bipartitioner and select_best use:
    max((1+eps)*ceil(W*ks/(k1+k2)), ceil(W*ks/(k1+k2)) + max node weight)
    per block (reference PartitionContext::setup + max_block_weight slack)."""
    k1, k2 = ratio
    slack = int(g.nweights.max(initial=1))
    return tuple(
        max(
            (1 + epsilon) * math.ceil(g.total_weight * ks / (k1 + k2)),
            math.ceil(g.total_weight * ks / (k1 + k2)) + slack,
        )
        for ks in (k1, k2)
    )


def bipartition_score(
    g: SmallGraph, part: np.ndarray, caps: tuple[float, float]
) -> tuple[int, int]:
    """select_best's ordering (helper.h:77-104): (total infeasibility, cut) —
    a feasible partition beats any infeasible one regardless of cut."""
    bw = _block_weights(g, part)
    infeasible = int(max(0, bw[0] - caps[0]) + max(0, bw[1] - caps[1]))
    return (infeasible, cut_of(g, part))


def best_of_bisections(
    g: SmallGraph,
    k: int,
    epsilon: float,
    seeds: list[int],
    k_final: int | None = None,
    total_weight_root: int | None = None,
    final_k: int | None = None,
) -> np.ndarray:
    """Best of R seeded recursive bisections, one per seed in ``seeds``,
    scored by (infeasibility, cut) — the select_best ordering of
    helper.h:77-104. Repeating the seeded portfolio is the reference's
    quality lever (pool repetitions, initial_partitioning_facade.h:38). Its
    thread-parallel replica fork (parallel_initial_partitioner.cc:11-69)
    only keeps idle threads busy, and on one driver it would be extra serial
    work, so each bisection here is one sequential chain."""
    final_k = final_k or k
    k_final = k_final or final_k
    from kaminpar_spark.functions.rules import fill_final_k, max_block_weight_final_k

    final_ks = fill_final_k(k, final_k)
    caps = np.array(
        [
            max_block_weight_final_k(
                total_weight_root or g.total_weight, k_final, fkb, epsilon,
                int(g.nweights.max(initial=1)),
            )
            for fkb in final_ks
        ],
        dtype=np.int64,
    )
    best = None  # ((infeasible, cut), labels)
    for s in seeds:
        labels = recursive_bisect(
            g, k, epsilon, seed=s, k_final=k_final,
            total_weight_root=total_weight_root, final_k=final_k,
        )
        bw = _block_weights(g, labels, k)
        infeasible = int(np.maximum(0, bw - caps).sum())
        cand = (infeasible, cut_of(g, labels))
        if best is None or cand < best[0]:
            best = (cand, labels)
    return best[1]


def repair_kway(g: SmallGraph, labels: np.ndarray, caps: np.ndarray) -> np.ndarray:
    """Greedy repair of a k-way partition on the driver: give every empty
    block one node (when n >= k), then move nodes out of overloaded blocks
    until every block is within ``caps``. Each move takes the source-block
    node with the best cut gain that fits the target, and the target is the
    block with the most free capacity. Under the uniform cap
    max((1+eps)*ceil(W/k), ceil(W/k) + max node weight) the lightest block
    always has room for any node, so every overload gets repaired. A
    feasible partition without empty blocks comes back unchanged."""
    k = len(caps)
    part = labels.copy()
    nw = g.nweights
    bw = np.bincount(part, weights=nw, minlength=k).astype(np.int64)
    count = np.bincount(part, minlength=k)
    src = _sources(g)

    def move_best(frm: int, to: int) -> bool:
        into = np.bincount(src, weights=g.eweights * (part[g.indices] == to), minlength=g.n)
        out = np.bincount(src, weights=g.eweights * (part[g.indices] == frm), minlength=g.n)
        gain = np.where((part == frm) & (nw <= caps[to] - bw[to]), into - out, -np.inf)
        u = int(np.argmax(gain))
        if gain[u] == -np.inf:
            return False
        part[u] = to
        bw[frm] -= nw[u]
        bw[to] += nw[u]
        count[frm] -= 1
        count[to] += 1
        return True

    if g.n >= k:
        for b in np.nonzero(count == 0)[0].tolist():
            move_best(int(np.argmax(count)), b)  # pigeonhole: holds >= 2 nodes
    while k > 1 and (bw > caps).any():
        frm = int(np.argmax(bw - caps))
        free = caps - bw
        free[frm] = np.iinfo(np.int64).min
        if not move_best(frm, int(np.argmax(free))):
            break
    return part
