"""k-threshold cascade (bootstrap percolation) over the actor graph.

A node ACTIVATES when at least ``k`` of its neighbors are active — the
classic linear-threshold special case (bootstrap percolation, Chalupa et
al. 1979; influence-maximization's deterministic core). This is NOT BFS
reachability: one active neighbor is never enough for k >= 2, so cascades
die in tree-like regions and percolate only through densely-connected
cores — on conversation graphs it separates "heard about it" from
"reinforced by multiple contacts". No reference analog (KaMinPar's
supersteps are clustering/refinement); the kernel shape is the J1 gather.

Each round is ONE gather-count of active neighbors + a threshold filter +
an anti-join against the already-active set (activation is monotone: once
active, always active, so the state is (id, first_round) for activated
nodes only and a round is append-only). Fixed ``rounds`` keeps the
unrolled SQL oracle in lockstep; extra rounds after the fixpoint are
no-ops.

Scale shape: the gather joins the ACTIVE set (frontier-ish, monotone
growing) against the edge table — shuffle-hash hinted like every
superstep; per-dst counting is a hash aggregate with map-side partials, so
hubs cost bandwidth, not a straggler sort. State is one row per activated
node, never per (node, neighbor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.superstep import run_supersteps


def threshold_cascade(
    graph: GraphFrame, seeds, k: int = 2, rounds: int = 4
) -> DataFrame:
    """(id, round) — activation round per activated node: 0 for seeds, r for
    nodes whose active-neighbor count first reached ``k`` in round r
    (1 <= r <= rounds). Non-activated nodes are absent. Deterministic: each
    round activates EVERY node past the threshold simultaneously (Jacobi
    update), so there is no order dependence."""
    spark = graph.nodes.sparkSession
    if isinstance(seeds, DataFrame):
        active = seeds.select("id").withColumn("round", F.lit(0))
    else:
        active = spark.createDataFrame(
            [(int(i), 0) for i in seeds], "id long, round int"
        )
    edges = graph.edges.select("src", "dst")

    def step(active: DataFrame, i: int) -> DataFrame:
        counts = (
            edges.join(
                active.select(F.col("id").alias("src")).hint("shuffle_hash"),
                "src",
            )
            .groupBy("dst")
            .agg(F.count("*").alias("n_active"))
        )
        newly = (
            counts.where(F.col("n_active") >= k)
            .select(F.col("dst").alias("id"))
            .join(active.select("id").hint("shuffle_hash"), "id", "left_anti")
            .withColumn("round", F.lit(i + 1))
        )
        return active.unionByName(newly)

    return run_supersteps(active, step, lambda new: {}, lambda m: False, rounds)
