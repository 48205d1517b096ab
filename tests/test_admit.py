"""Capacity admission (``labelprop.admit``) and the balancer rules built on it.

``admit`` gives each mover the exact weight of the movers with its key that
come before it in the order (priority desc, id asc); LP admits with the fit
rule ``ahead + weight <= budget`` and the balancer's source side with the
cover rule ``ahead < overload``. The property test checks both rules
against a pure-Python sort on many keys packed into one DataFrame, one of
them holding most of the movers.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from kaminpar_spark import fixtures
from kaminpar_spark.operators.balance import balance_round
from kaminpar_spark.operators.labelprop import admit
from kaminpar_spark.operators.metrics import block_weights
from tests.test_lineage_release import _ring_with_clique


def _weights(g, part) -> dict:
    return {r["block"]: r["block_weight"] for r in block_weights(g, part).collect()}


def test_balance_drains_a_bucket_heavier_than_the_overload(spark):
    """Block 0 (ids < 30 of the 46-node ring plus clique) is 7 over a cap of
    23. Its lowest gain bucket that the overload reaches holds more weight
    than is left to drain: the source must still give up enough of it, so
    one round makes both blocks feasible."""
    g = _ring_with_clique(spark)
    part = g.nodes.select("id", (F.col("id") >= 30).cast("int").alias("block"))
    assert _weights(g, balance_round(g, part, 23, k=2)) == {0: 23, 1: 23}


def test_balance_round_moves_one_heavy_mover(spark):
    """Every mover weighs 4 against an overload of 1: one round moves one
    node and makes both blocks feasible."""
    ring = [(i, (i + 1) % 8, 1) for i in range(8)]
    g = fixtures._graph(spark, ring, node_weights=[4] * 8)
    part = g.nodes.select("id", F.col("id").between(2, 6).cast("int").alias("block"))
    assert _weights(g, part) == {0: 12, 1: 20}
    out = balance_round(g, part, 19, k=2)
    assert _weights(g, out) == {0: 16, 1: 16}


@st.composite
def _cases(draw):
    """Small keyed cases with tied priorities plus one key holding most of
    the movers, its priorities spread wide."""
    cases = []
    for _ in range(draw(st.integers(3, 12))):
        ids = draw(st.lists(st.integers(0, 4096), min_size=1, max_size=15, unique=True))
        movers = [(i, draw(st.integers(1, 9)), draw(st.integers(-3, 3))) for i in ids]
        cases.append((movers, draw(st.integers(0, 40))))
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    ids = rng.sample(range(6144), 1500)
    heavy = [(i, rng.randint(1, 9), rng.randint(-(10**6), 10**6)) for i in ids]
    cases.append((heavy, rng.randint(0, 5 * len(heavy))))
    return cases


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(cases=_cases())
def test_admit_matches_a_sorted_prefix(spark, cases):
    rows = [(key, i, w, p) for key, (movers, _) in enumerate(cases) for i, w, p in movers]
    df = spark.createDataFrame(rows, "key long, id long, weight long, prio long")
    got = {(r["key"], r["id"]): r["ahead"] for r in admit(df, "key", "prio").collect()}
    assert len(got) == len(rows)
    for key, (movers, budget) in enumerate(cases):
        ahead, fit, cover = 0, set(), set()
        for i, w, _ in sorted(movers, key=lambda m: (-m[2], m[0])):
            assert got[(key, i)] == ahead, (key, i)
            if ahead + w <= budget:
                fit.add(i)
            if ahead < budget:
                cover.add(i)
            ahead += w
        weight = {i: w for i, w, _ in movers}
        assert {i for i, _, _ in movers if got[(key, i)] + weight[i] <= budget} == fit
        assert {i for i, _, _ in movers if got[(key, i)] < budget} == cover
        assert sum(weight[i] for i in fit) <= budget
