"""Hop-bounded traversal: BFS levels and Bellman-Ford SSSP (I8 family).

The reference's only traversal is the sequential BFS used for component
labeling and the BFS-seeded bipartitioners (apps/tools/graph_tools.cc:91-126,
kaminpar/initial_partitioning/bfs_bipartitioner.h); this module re-expresses
BFS as distributed frontier relaxation on the same gather/scatter plumbing as
pagerank/cc, and generalizes it to weighted shortest paths (Bellman-Ford).

Semantics are **hop-bounded**: ``distances(..., max_hops=h)`` returns, for
every node reachable from the source set within h half-edge hops, the minimum
hop count (unweighted) or the minimum path weight over paths of at most h
edges (weighted). After h >= diameter supersteps this is the exact BFS/SSSP
fixpoint; the hop bound makes the result well-defined (and oracle-checkable
round by round) even when the loop is cut short.

Scale shape: each superstep gathers state from the CHANGED frontier only —
min-distances are monotone non-increasing, so a node whose distance did not
change this round has already propagated everything it ever will; the frontier
filter is free correctness-preserving work-skipping (the same per-round states
as full relaxation, verified by the unrolled DuckDB oracle which relaxes from
ALL reached nodes). The relax aggregate is a hash min-agg (map-side combine
absorbs hub dsts); one node-scale shuffle-hash join applies candidates back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import carry
from kaminpar_spark.plans.superstep import run_supersteps


def relax_step(graph: GraphFrame, state: DataFrame, weighted: bool) -> DataFrame:
    """One min-relaxation superstep over state (id, dist, changed)."""
    frontier = state.where(F.col("changed") == 1).select("id", "dist")
    step_w = F.col("weight") if weighted else F.lit(1)
    cand = (
        graph.gather(frontier, ["dist"])
        .select(F.col("dst").alias("id"), (F.col("dist") + step_w).alias("nd"))
        .groupBy("id")
        .agg(F.min("nd").alias("nd"))
    )
    return (
        state.select("id", F.col("dist").alias("old_dist"))
        .join(cand.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            F.least("old_dist", "nd").alias("dist"),  # least() skips NULLs
            F.when(
                F.col("nd").isNotNull()
                & (F.col("old_dist").isNull() | (F.col("nd") < F.col("old_dist"))),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("changed"),
        )
    )


def distances(
    graph: GraphFrame,
    sources,
    max_hops: int = 20,
    weighted: bool = False,
    runner=None,
) -> DataFrame:
    """(id, dist) for nodes reachable from ``sources`` within ``max_hops``
    hops; dist is the min hop count, or the min path weight over <= max_hops
    edges when ``weighted=True``. Unreachable nodes are omitted.

    ``sources`` is a list of node ids or an (id) DataFrame (broadcast onto the
    node table at init — source sets are small by use-case)."""
    spark = graph.nodes.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select("id")
    else:
        src_df = spark.createDataFrame([(int(i),) for i in sources], "id long")
    state = (
        graph.nodes.select("id")
        .join(F.broadcast(src_df.withColumn("_s", F.lit(1))), "id", "left")
        .select(
            "id",
            F.when(F.col("_s").isNotNull(), F.lit(0)).cast("long").alias("dist"),
            F.when(F.col("_s").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("changed"),
        )
    )

    def step(s: DataFrame, i: int) -> DataFrame:
        return relax_step(graph, s, weighted)

    def metrics(new: DataFrame) -> dict:
        moved = new.agg(F.sum("changed").alias("mv")).first()["mv"]
        return {"moved": int(moved or 0)}

    def converged(m: dict) -> bool:
        return m["moved"] == 0

    final = run_supersteps(state, step, metrics, converged, max_hops, runner, "distances")
    return carry(final.where(F.col("dist").isNotNull()).select("id", "dist"), final)


def bfs_levels(graph: GraphFrame, sources, max_hops: int = 20, runner=None) -> DataFrame:
    """(id, dist) — BFS hop distance from the source set (<= max_hops)."""
    return distances(graph, sources, max_hops=max_hops, weighted=False, runner=runner)


def multi_source_distances(
    graph: GraphFrame, sources, max_hops: int = 4, runner=None
) -> DataFrame:
    """(src, id, dist) — one BFS per source node, all run in SHARED supersteps
    (state keyed by (src, id), one frontier join per round for every source at
    once) instead of |S| sequential driver loops. State is |S| x n rows —
    callers keep the source set bounded (sampled centrality estimators).

    Same hop-bounded min-relaxation semantics as ``distances``."""
    spark = graph.nodes.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col("id").alias("src"))
    else:
        src_df = spark.createDataFrame([(int(i),) for i in sources], "src long")
    state = graph.nodes.select("id").crossJoin(F.broadcast(src_df)).select(
        "src",
        "id",
        F.when(F.col("id") == F.col("src"), F.lit(0)).cast("long").alias("dist"),
        F.when(F.col("id") == F.col("src"), F.lit(1)).otherwise(F.lit(0)).alias("changed"),
    )

    def step(s: DataFrame, i: int) -> DataFrame:
        frontier = s.where(F.col("changed") == 1).select("src", "id", "dist")
        e = graph.edges.select(F.col("src").alias("id"), "dst")
        cand = (
            frontier.join(e.hint("shuffle_hash"), "id")
            .groupBy("src", F.col("dst").alias("id"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        return (
            s.select("src", "id", F.col("dist").alias("old_dist"))
            .join(cand.hint("shuffle_hash"), ["src", "id"], "left")
            .select(
                "src",
                "id",
                F.least("old_dist", "nd").alias("dist"),
                F.when(
                    F.col("nd").isNotNull()
                    & (F.col("old_dist").isNull() | (F.col("nd") < F.col("old_dist"))),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias("changed"),
            )
        )

    def metrics(new: DataFrame) -> dict:
        moved = new.agg(F.sum("changed").alias("mv")).first()["mv"]
        return {"moved": int(moved or 0)}

    def converged(m: dict) -> bool:
        return m["moved"] == 0

    final = run_supersteps(state, step, metrics, converged, max_hops, runner, "ms_distances")
    return carry(final.where(F.col("dist").isNotNull()).select("src", "id", "dist"), final)


def harmonic_centrality(
    graph: GraphFrame, sources, max_hops: int = 4, runner=None
) -> DataFrame:
    """(id, harmonic) — sampled harmonic centrality: sum over the source set
    of 1/dist(s, id) within max_hops hops (the standard estimator scales this
    by (n-1)/|S|; the raw sum is returned so callers pick their normalizer).

    Determinism: 1/dist terms are accumulated as EXACT integers scaled by
    lcm(1..max_hops) — dist <= max_hops always divides the scale — then one
    final division produces the double. A float sum would be partition-order
    dependent; the integer sum is hash-exact cross-engine (same trick as
    stats.degree_assortativity)."""
    import math

    scale = math.lcm(*range(1, max_hops + 1))
    d = multi_source_distances(graph, sources, max_hops=max_hops, runner=runner)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(F.expr(f"{scale} div dist")).alias("hsum"))
        .select("id", F.round(F.col("hsum") / F.lit(float(scale)), 6).alias("harmonic"))
    )


def double_sweep_diameter(
    graph: GraphFrame, start: int = 0, max_hops: int = 8, runner=None
) -> DataFrame:
    """One row (peripheral, diameter_lb) — the classic double-sweep diameter
    lower bound: BFS from ``start``, hop to the farthest reached node
    (ties -> min id, deterministic), BFS again; the second eccentricity is a
    lower bound on the true diameter (exact once max_hops >= diameter; tight
    on most real graphs, Magnien et al. JEA'09). Two BFS passes; the only
    driver-side value is the single peripheral id."""
    d1 = distances(graph, [start], max_hops=max_hops, runner=runner)
    far = (
        d1.orderBy(F.desc("dist"), F.asc("id"))
        .limit(1)
        .select(F.col("id").alias("peripheral"))
    )
    d2 = distances(graph, far.select(F.col("peripheral").alias("id")), max_hops=max_hops, runner=runner)
    return far.crossJoin(d2.agg(F.max("dist").alias("diameter_lb")))


def sssp(graph: GraphFrame, sources, max_hops: int = 20, runner=None) -> DataFrame:
    """(id, dist) — Bellman-Ford shortest path weight over <= max_hops edges
    (exact SSSP once max_hops >= the shortest-path hop diameter; weights are
    the edge table's non-negative multiplicities)."""
    return distances(graph, sources, max_hops=max_hops, weighted=True, runner=runner)


def khop_ball_sizes(graph: GraphFrame, sources, hops: int = 2) -> DataFrame:
    """(src, ball_size) — EXACT |{v : dist(src, v) <= hops}| (including src)
    per sampled source, via the shared multi-source BFS supersteps — the
    exact ground-truth twin of the ANF ball estimate (operators.anf
    .ball_estimates) for bounded source sets.

    Scale shape: state is |S| x n rows, so callers keep the source set
    sampled (the same contract as harmonic_centrality); the count is one
    hash aggregate over the final distance state — no per-source driver
    loop, no pair explosion beyond the BFS frontier joins themselves."""
    dist = multi_source_distances(graph, sources, max_hops=hops)
    return (
        dist.where(F.col("dist").isNotNull() & (F.col("dist") <= hops))
        .groupBy("src")
        .agg(F.count("*").cast("long").alias("ball_size"))
    )
