"""Pool fidelity (VERDICT r1 item 8): Welford adaptive selection and
queue-length BFS strategies. Pure numpy — no Spark session."""

from __future__ import annotations

import numpy as np

from kaminpar_spark.plans.initial import (
    SmallGraph,
    _Welford,
    bipartition_bfs,
    cut_of,
    pool_bipartition,
)


def _ring(n: int) -> SmallGraph:
    src = np.concatenate([np.arange(n), np.arange(n)])
    dst = np.concatenate([(np.arange(n) + 1) % n, (np.arange(n) - 1) % n])
    w = np.ones(2 * n, dtype=np.int64)
    return SmallGraph.from_edges(n, src, dst, w, np.ones(n, dtype=np.int64))


def test_welford_matches_numpy():
    xs = [3.0, 7.0, 7.0, 19.0, 2.0]
    w = _Welford()
    for x in xs:
        w.update(x)
    mean, var = w.get()
    assert mean == np.mean(xs)
    assert abs(var - np.var(xs)) < 1e-12


def test_queue_strategies_produce_valid_bipartitions():
    # NOTE: like the reference's BfsBipartitioner, a grower may overfill a
    # block (a twice-bounced node is assigned regardless of cap,
    # bfs_bipartitioner.h marker<2> path) — feasibility is the POOL's job.
    # The strategy contract is only: total cover, two blocks, both non-empty.
    g = _ring(64)
    caps = (40.0, 40.0)
    for strategy in ("longer_queue", "shorter_queue"):
        part = bipartition_bfs(g, caps, np.random.default_rng(7), strategy)
        assert set(np.unique(part)) <= {0, 1}
        bw = np.bincount(part, minlength=2)
        assert bw[0] > 0 and bw[1] > 0
        assert bw.sum() == 64


def test_adaptive_pool_matches_or_beats_flat_on_ring():
    """Adaptive skipping must not degrade the selected cut (it only skips
    bipartitioners that are statistically unlikely to improve)."""
    g = _ring(128)
    flat = pool_bipartition(g, 0.05, seed=1, repetitions=8, adaptive=False)
    adap = pool_bipartition(g, 0.05, seed=1, repetitions=8, adaptive=True,
                            min_non_adaptive_reps=2)
    # ring optimum cut = 2
    assert cut_of(g, flat) >= 2 and cut_of(g, adap) >= 2
    assert cut_of(g, adap) <= cut_of(g, flat) + 2
