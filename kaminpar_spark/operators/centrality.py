"""Sampled betweenness / stress centrality — Brandes' forward-backward
algorithm over shared multi-source BFS supersteps.

Brandes (2001): for each source s, a forward level-synchronous BFS computes
dist and sigma (= #shortest s->v paths); a backward sweep down the shortest-
path DAG accumulates per-node dependency. Sources are sampled (the
Brandes-Pich estimator) — exact betweenness is O(nm) and not a 100 TB
operation; K sampled sources cost K·diameter supersteps SHARED in one state
DataFrame keyed (s, id) (the paths.multi_source_distances layout).

Two accumulators ride the same backward sweep:
- **stress** (Shimbel): g(v) = sum over DAG-successors w of (1 + g(w)) —
  #DAG paths from v to any t; stress(v) = Σ_s σ_s(v)·g_s(v), v interior.
  ALL-INTEGER (exact, order-free, cross-engine reproducible) — this is the
  column the DuckDB oracle checks value-exact.
- **betweenness** (Brandes δ): δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) — IEEE sums
  whose addition order engines don't share; validated in pytest against a
  pure-Python Brandes with allclose instead of the hash oracle.

Scale shape per superstep: one frontier equi-join edges + one (s, dst)
groupBy with map-side partial agg (J1), forward and backward both; the
backward sweep processes ONE BFS level per superstep (dist is known, so the
DAG-successor join is an equi-join on (s, id) + a dist equality filter —
no windows, no collects). sigma/g are int64: they overflow only past ~9e18
path counts per node per source (log, then switch to DECIMAL(38,0) sums).
Hop-bounded: exactly ``max_hops`` forward levels in BOTH engines, so
truncation beyond the horizon is reproducible, not racy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import truncate
from kaminpar_spark.plans.superstep import run_supersteps


def _forward_sssp_dag(
    graph: GraphFrame, src_df: DataFrame, max_hops: int
) -> DataFrame:
    """(s, id, dist, sigma) for all nodes reached within max_hops levels."""
    init = src_df.select(
        F.col("src").alias("s"),
        F.col("src").alias("id"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    )
    e = graph.edges.select(F.col("src").alias("id"), "dst")

    def step(state: DataFrame, i: int) -> DataFrame:
        h = i + 1
        frontier = state.where(F.col("dist") == h - 1)
        cand = (
            frontier.join(e.hint("shuffle_hash"), "id")
            .groupBy("s", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = (
            cand.join(
                state.select("s", "id").hint("shuffle_hash"),
                ["s", "id"],
                "left_anti",
            )
            .select("s", "id", F.lit(h).cast("long").alias("dist"), "sigma")
        )
        return state.unionByName(new)

    return run_supersteps(init, step, lambda new: {}, lambda m: False, max_hops)


def _backward_accumulate(
    graph: GraphFrame, fwd: DataFrame, max_hops: int
) -> DataFrame:
    """(s, id, dist, sigma, g, delta): g = integer DAG-path count to any
    target below v; delta = Brandes dependency. One BFS level per step,
    deepest first."""
    e = graph.edges.select("src", "dst")
    init = fwd.where(F.col("dist") == max_hops).select(
        "s",
        "id",
        "dist",
        "sigma",
        F.lit(0).cast("long").alias("g"),
        F.lit(0.0).alias("delta"),
    )

    def step(acc: DataFrame, i: int) -> DataFrame:
        lev = max_hops - 1 - i
        below = acc.where(F.col("dist") == lev + 1).select(
            "s", F.col("id").alias("dst"), "sigma", "g", "delta"
        )
        # DAG edge v->w iff edge (v, w) and dist(w) = dist(v)+1; contributions
        # grouped per (s, v)
        contrib = (
            below.join(e.hint("shuffle_hash"), "dst")
            .groupBy("s", F.col("src").alias("id"))
            .agg(
                F.sum(F.lit(1) + F.col("g")).alias("gsum"),
                F.sum((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias(
                    "dsum"
                ),
            )
        )
        lev_nodes = (
            fwd.where(F.col("dist") == lev)
            .join(contrib.hint("shuffle_hash"), ["s", "id"], "left")
            .select(
                "s",
                "id",
                "dist",
                "sigma",
                F.coalesce("gsum", F.lit(0)).cast("long").alias("g"),
                (F.coalesce("dsum", F.lit(0.0)) * F.col("sigma")).alias("delta"),
            )
        )
        return acc.unionByName(lev_nodes)

    return run_supersteps(init, step, lambda new: {}, lambda m: False, max_hops)


EIG_SCALE = 1_000_000


def eigenvector_centrality(
    graph: GraphFrame, iters: int = 3, scale: int = EIG_SCALE
) -> DataFrame:
    """(id, eig) — power iteration on the weighted adjacency, rescaled each
    round by the round MAX via integer floor-division onto [0, scale] (the
    HITS exactness trick, operators/hits.py: max-of-int64 and floor-div are
    order-independent, so every score is cross-engine bit-exact; power
    iteration is normalization-invariant so max-rescale converges to the
    same principal direction as the L2 textbook form). int64 bound:
    per-round sums ≤ max weighted degree × scale.

    Scale shape per round: one J1 gather + sum groupBy with map-side partial
    agg, one 1-row max, one map-only rescale."""
    nodes = graph.nodes.select("id")
    x = nodes.select("id", F.lit(scale).cast("long").alias("s"))
    for _ in range(iters):
        gathered = graph.gather(x, ["s"])
        raw = gathered.groupBy(F.col("dst").alias("id")).agg(
            F.sum(F.col("weight") * F.col("s")).alias("raw")
        )
        m = raw.agg(F.max("raw").alias("m"))
        scaled = raw.crossJoin(F.broadcast(m)).select(
            "id", F.expr(f"raw * {scale}L div m").alias("s")
        )
        x = truncate(
            nodes.join(scaled.hint("shuffle_hash"), "id", "left").select(
                "id", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("s")
            )
        )
    return x.select("id", F.col("s").alias("eig"))


def katz_centrality(
    graph: GraphFrame, hops: int = 3, inv_beta: int = 4
) -> DataFrame:
    """(id, katz) — truncated Katz index Σ_{k=1..K} β^k·walks_k(v), walks
    weighted by edge multiplicity, β = 1/inv_beta. Exactness: with a dyadic-
    rational β the score is reported on the integer lattice
    katz = Σ_k inv_beta^(K-k)·walks_k(v)  (the true index times inv_beta^K)
    — integer walk counts propagate through K gather-sum supersteps with no
    float anywhere, so the oracle reproduces values exactly. Overflow: walk
    counts grow like (max weighted degree)^K; K=3 holds to ~2M weighted
    degree in int64 — at bigger hubs lower K or promote to DECIMAL(38,0).

    Scale shape: K supersteps of the J1 gather + sum groupBy; nothing else.
    """
    state = graph.nodes.select("id", F.lit(1).cast("long").alias("w"))
    acc = graph.nodes.select("id", F.lit(0).cast("long").alias("katz"))
    for k in range(1, hops + 1):
        gathered = graph.gather(state, ["w"])
        state = truncate(
            gathered.groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("weight") * F.col("w")).alias("w"))
        )
        scale = inv_beta ** (hops - k)
        acc = truncate(
            acc.join(state.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (
                    F.col("katz") + F.lit(scale) * F.coalesce("w", F.lit(0))
                ).alias("katz"),
            )
        )
    return acc


def brandes_centrality(
    graph: GraphFrame, sources, max_hops: int = 8
) -> DataFrame:
    """(id, stress, betweenness) accumulated over the sampled sources; every
    node present (0 for nodes off all sampled shortest paths). ``stress`` is
    exact int64; ``betweenness`` is the float Brandes score (source-endpoint
    excluded, target endpoints excluded per the standard definition)."""
    spark = graph.nodes.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col("id").alias("src"))
    else:
        src_df = spark.createDataFrame([(int(i),) for i in sources], "src long")
    src_df = truncate(src_df)
    fwd = _forward_sssp_dag(graph, src_df, max_hops)
    acc = _backward_accumulate(graph, fwd, max_hops)
    per_node = (
        acc.where(F.col("id") != F.col("s"))
        .groupBy("id")
        .agg(
            F.sum(F.col("sigma") * F.col("g")).alias("stress"),
            F.sum(F.col("delta")).alias("betweenness"),
        )
    )
    return (
        graph.nodes.select("id")
        .join(per_node, "id", "left")
        .select(
            "id",
            F.coalesce("stress", F.lit(0)).cast("long").alias("stress"),
            F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"),
        )
    )


def brandes_edge_centrality(
    graph: GraphFrame, sources, max_hops: int = 8
) -> DataFrame:
    """(a, b, e_stress, e_betweenness) per undirected edge {a < b} — sampled
    EDGE betweenness (the Girvan–Newman centrality): a DAG edge (v, w)
    (dist(w) = dist(v)+1 from source s) carries credit σ_s(v)/σ_s(w)·(1+δ_s(w));
    summing over sampled sources gives the classic community-splitting edge
    score. ``e_stress`` is the all-integer analog σ_s(v)·(1+g_s(w)) — exact,
    order-free, the oracle-checked column (same split as node Brandes).

    Shape: the SAME forward/backward sweeps as brandes_centrality (shared
    multi-source supersteps); edge credits then come from ONE post-pass —
    edges ⋈ final state on both endpoints with the dist+1 DAG filter, one
    hash aggregate per canonical pair. Every undirected edge is present
    (0 for edges off all sampled shortest-path DAGs)."""
    spark = graph.nodes.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col("id").alias("src"))
    else:
        src_df = spark.createDataFrame([(int(i),) for i in sources], "src long")
    src_df = truncate(src_df)
    fwd = _forward_sssp_dag(graph, src_df, max_hops)
    acc = _backward_accumulate(graph, fwd, max_hops)
    w_side = acc.select(
        "s",
        F.col("id").alias("dst"),
        F.col("dist").alias("dist_w"),
        F.col("sigma").alias("sigma_w"),
        "g",
        "delta",
    )
    v_side = acc.select(
        "s",
        F.col("id").alias("src"),
        F.col("dist").alias("dist_v"),
        F.col("sigma").alias("sigma_v"),
    )
    ec = (
        graph.edges.select("src", "dst")
        .join(w_side.hint("shuffle_hash"), "dst")
        .join(v_side.hint("shuffle_hash"), ["s", "src"])
        .where(F.col("dist_v") == F.col("dist_w") - 1)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            (F.col("sigma_v") * (F.lit(1) + F.col("g"))).alias("sc"),
            (F.col("sigma_v") * (F.lit(1.0) + F.col("delta")) / F.col("sigma_w")).alias(
                "bc"
            ),
        )
    )
    per_edge = ec.groupBy("a", "b").agg(
        F.sum("sc").alias("e_stress"), F.sum("bc").alias("e_betweenness")
    )
    und = graph.edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    return und.join(per_edge.hint("shuffle_hash"), ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("e_stress", F.lit(0)).cast("long").alias("e_stress"),
        F.coalesce("e_betweenness", F.lit(0.0)).alias("e_betweenness"),
    )
