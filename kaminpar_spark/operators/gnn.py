"""GNN training prep: one-hop neighborhood feature aggregation (GraphSAGE
mean aggregator) over an embedding column.

What a 100 TB training-data pipeline feeds a GraphSAGE/GCN layer is exactly
this: for every node, the element-wise mean of its neighbors' feature
vectors. No reference analog (KaMinPar has no feature plane); the gather is
the engine's J1 kernel (graph.py:303, salted for hubs), so the shape is ONE
equi-join + ONE groupBy with map-side partial aggregation — the feature array
travels the shuffle as a single array column and is reduced by ``dim`` fixed
JVM sum-aggregates (the minhash 64-min-aggregates pattern), never exploded
to (id, pos) rows and never touching Python.

Exactness design: float means are order-dependent, so features are first
quantized to an int64 lattice (floor(feat * 2^20)) — integer sums are exact
and order-free; ONE IEEE division per output component at the end makes the
result bit-reproducible across engines (the kmeans_cells integer-centroid
trick, functions/similarity.py).

Neighbor sampling: GraphSAGE samples a fixed-size neighborhood; pass
``cap=K`` to apply the engine's deterministic neighbor-scan cap (P4,
operators/preprocess.py) before aggregating — at 10^12 edges that bounds
both shuffle volume and hub skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame

QUANT_SCALE = 1 << 20


def quantize_features(
    feats: DataFrame, dim: int, feat_col: str = "feat", scale: int = QUANT_SCALE
) -> DataFrame:
    """(id, q array<long>): floor(feat[i] * scale) — exact in both engines
    (float32 -> float64 widening and floor are IEEE-deterministic)."""
    return feats.select(
        "id",
        F.array(
            *[
                F.floor(F.col(feat_col)[i].cast("double") * F.lit(float(scale))).cast(
                    "long"
                )
                for i in range(dim)
            ]
        ).alias("q"),
    )


def neighbor_mean_features(
    graph: GraphFrame,
    feats: DataFrame,
    dim: int,
    feat_col: str = "feat",
    scale: int = QUANT_SCALE,
    cap: int | None = None,
) -> DataFrame:
    """(id, n_nbrs, nbr_mean array<double>) — element-wise mean of the
    feature vectors of ``id``'s distinct neighbors (GraphSAGE mean
    aggregator, unweighted). Nodes with no neighbors are absent (nothing to
    aggregate). ``cap`` samples at most K neighbors per node first via
    ``cap`` deterministic affine-keyed draws WITH replacement, deduplicated:
    a node with degree >= cap aggregates *up to* cap distinct neighbors, in
    expectation ~cap·(1 - ((cap-1)/cap)^deg) < cap of them (the classic
    occupancy shrinkage, ≈0.63·cap at deg >> cap) — not exactly
    min(cap, degree). This is standard GraphSAGE sampling semantics and the
    price of the hub-safe one-pass hash aggregate; preprocess.cap_neighbors
    offers the other hub-safe tradeoff (hash thresholding: cap in
    expectation, unbiased, but not a hard per-node bound)."""
    if cap is not None:
        # Cap the AGGREGATING side: gather flows src-features to dst, so the
        # sampled neighborhood is per-dst (P4's cap_neighbors ranks per-src —
        # the rating-kernel view — which would not bound the aggregation).
        # Hub-safe shape (the sage_sample formulation, gnn.py:162): ``cap``
        # independent affine-keyed argmin draws per dst — ONE hash aggregate
        # with ``cap`` struct-min columns, map-side partial agg, so a
        # 10^7-degree hub reduces across tasks instead of sorting in one
        # (the per-dst row_number window this replaced put the whole hub
        # neighborhood in a single task). Sampling with replacement then
        # dedup: <= cap distinct neighbors, GraphSAGE semantics.
        from kaminpar_spark.functions.hashing import POLY_MOD, minhash_perms

        a, b = minhash_perms(cap, seed=23)
        e0 = graph.edges.select("src", "dst")
        keys = [
            (
                (F.col("src") * F.lit(a[j])) % F.lit(POLY_MOD)
                + (F.col("dst") * F.lit(b[j])) % F.lit(POLY_MOD)
            )
            % F.lit(POLY_MOD)
            for j in range(cap)
        ]
        keyed = e0.select("src", "dst", *[keys[j].alias(f"k{j}") for j in range(cap)])
        aggs = [
            F.min(F.struct(F.col(f"k{j}").alias("k"), F.col("src").alias("s"))).alias(
                f"m{j}"
            )
            for j in range(cap)
        ]
        e = (
            keyed.groupBy("dst")
            .agg(*aggs)
            .select(
                "dst",
                F.explode(
                    F.array_distinct(F.array(*[F.col(f"m{j}.s") for j in range(cap)]))
                ).alias("src"),
            )
            .select("src", "dst", F.lit(1).cast("long").alias("weight"))
        )
        graph = GraphFrame(edges=e, nodes=graph.nodes)
    q = quantize_features(feats, dim, feat_col, scale)
    gathered = graph.gather(q, ["q"])
    agg = gathered.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("n_nbrs"),
        *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)],
    )
    return agg.select(
        "id",
        "n_nbrs",
        F.array(
            *[
                F.col(f"s{i}") / (F.lit(float(scale)) * F.col("n_nbrs"))
                for i in range(dim)
            ]
        ).alias("nbr_mean"),
    )


def smoothed_features(
    graph: GraphFrame,
    feats: DataFrame,
    dim: int,
    rounds: int = 2,
    feat_col: str = "feat",
    scale: int = QUANT_SCALE,
) -> DataFrame:
    """(id, q array<long>) — SGC-style feature propagation (Wu et al. 2019,
    "Simplifying Graph Convolutional Networks"): ``rounds`` applications of
    the degree-normalized self-loop smoother, on the exact int64 lattice:

        q'[i] = floor_div(q[i] + Σ_nbr q_nbr[i], 1 + deg)

    Each round is ONE salted gather + ONE hash aggregate with dim fixed JVM
    sum columns (the nbr_mean shape) + a floor division kept in exact
    integer arithmetic ((num - pmod(num, den)) div den — no double roundtrip), so the
    result after any number of rounds is bit-reproducible cross-engine.
    Unfeatured nodes contribute nothing and keep q = floor(0) (callers
    supply a feature row per node; the join is left so missing rows become
    zero vectors, documented)."""
    from kaminpar_spark.plans.superstep import run_supersteps

    q = quantize_features(feats, dim, feat_col, scale)
    state = (
        graph.nodes.select("id")
        .join(q, "id", "left")
        .select(
            "id",
            F.coalesce(
                "q", F.array(*[F.lit(0).cast("long") for _ in range(dim)])
            ).alias("q"),
        )
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        gathered = graph.gather(state, ["q"])
        sums = gathered.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("cnt"),
            *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)],
        )
        # name the numerators, then floor-divide in pure int64:
        # (num - pmod(num, den)) div den — numerator is an exact multiple of
        # den, so truncating div == floor div; never leaves integer land.
        tmp = state.join(sums.hint("shuffle_hash"), "id", "left").select(
            "id",
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).alias("den"),
            *[
                (F.col("q")[i] + F.coalesce(F.col(f"s{i}"), F.lit(0))).alias(f"num{i}")
                for i in range(dim)
            ],
        )
        comps = [
            F.expr(f"(num{i} - pmod(num{i}, den)) div den").cast("long")
            for i in range(dim)
        ]
        return tmp.select("id", F.array(*comps).alias("q"))

    return run_supersteps(state, step, lambda new: {}, lambda m: False, rounds)


def sage_sample(
    graph: GraphFrame,
    roots: DataFrame,
    fanouts: tuple[int, ...] = (3, 2),
    seed: int = 11,
) -> DataFrame:
    """Deterministic GraphSAGE-style layer-wise neighbor sampling (Hamilton
    et al., "Inductive Representation Learning on Large Graphs", NeurIPS
    2017) — the minibatch-subgraph builder of every distributed GNN trainer,
    with the dedup'd-frontier formulation (each frontier node is sampled
    once per layer no matter how many roots reach it — the DGL/GraphBolt
    shape that bounds layer-l work by |frontier|, not |roots| * fanout^l).

    Each layer draws ``fanout`` neighbors per frontier node via independent
    affine-keyed argmin draws (sampling with replacement, then dedup): draw j
    keeps the neighbor minimizing ((dst*a_j) mod M + (src*b_j) mod M) mod M
    with (a_j, b_j) from the engine's shared permutation stream — ONE hash
    aggregate per layer (fanout struct-min aggregates, map-side partial agg;
    no per-src sort window, hub-safe), deterministic and reproducible in
    ANSI SQL. Returns (layer, src, dst) sampled block edges; layer-l dsts
    form layer-(l+1)'s frontier.
    """
    from kaminpar_spark.functions.hashing import POLY_MOD, minhash_perms
    from kaminpar_spark.plans.lineage import release, truncate

    frontier = roots.select(F.col("id").alias("src"))
    out: DataFrame | None = None
    for layer, s in enumerate(fanouts, start=1):
        a, b = minhash_perms(s, seed=seed + layer)
        e = graph.edges.join(frontier.hint("shuffle_hash"), "src").select("src", "dst")
        keys = [
            (
                (F.col("dst") * F.lit(a[j])) % F.lit(POLY_MOD)
                + (F.col("src") * F.lit(b[j])) % F.lit(POLY_MOD)
            )
            % F.lit(POLY_MOD)
            for j in range(s)
        ]
        keyed = e.select(
            "src", "dst", *[keys[j].alias(f"k{j}") for j in range(s)]
        )
        aggs = [
            F.min(F.struct(F.col(f"k{j}").alias("k"), F.col("dst").alias("d"))).alias(
                f"m{j}"
            )
            for j in range(s)
        ]
        drawn = (
            keyed.groupBy("src")
            .agg(*aggs)
            .select(
                "src",
                F.explode(
                    F.array_distinct(F.array(*[F.col(f"m{j}.d") for j in range(s)]))
                ).alias("dst"),
            )
            .select(F.lit(layer).cast("int").alias("layer"), "src", "dst")
        )
        drawn = truncate(drawn)
        out = drawn if out is None else out.unionByName(drawn)
        # drawn generations back ``out`` and must stay; only the superseded
        # frontier is dead
        new_frontier = truncate(drawn.select(F.col("dst").alias("src")).distinct())
        release(frontier)
        frontier = new_frontier
    return out
