"""Label propagation — one engine, three configs (SURVEY.md I1/I2/I3).

The reference instantiates one CRTP LP template twice: size-constrained
clustering for coarsening (parallel_label_propagation_coarsener.h:36) and
block refinement (parallel_label_propagation_refiner.h:8). We mirror that:
``lp_step`` is the shared superstep; configs differ only in the weight
constraint and admission policy:

- **community** (north-rule LPA): no weight cap.
- **clustering** (coarsening, I2): cap ``max_cluster_weight`` (F5) per
  target cluster.
- **refinement** (I3): per-block capacity ``hard_caps``.

Both caps use one admission rule (``admit``): candidate movers are ranked
by gain within each target label and admitted in that order while the
label's start-of-step weight plus the admitted weight fits its capacity.
LP moves never take a label over its capacity, so BSP cannot jointly
overflow a cluster: this is the deterministic BSP replacement for the
reference's CAS accept (parallel_label_propagation.h:229-243,
parallel_label_propagation_coarsener.h:134-139).

One superstep (all configs):
    scores  = edges ⋈ labels on src (GraphFrame.gather — on a prepared graph
              neither side is shuffled)
              .groupBy(dst, label).sum(weight)
    best    = argmax_{label} score per dst, tie-break smallest label
    move if best strictly beats the current label's score (ties keep)

On a prepared graph without hubs, a steady unconstrained superstep runs two
shuffles: the (dst, label) score aggregate and its re-key by ``id``; the
edges and the ``id``-partitioned state stay in place. The first superstep
runs one: its labels equal the ids, so the score aggregate already sits in
the edge layout.

Semi-synchronous scheduling (``semi_sync=True``): only nodes with
pmod(xxhash64(id), 2) == step%2 may move — the BSP de-correlation replacing
the reference's randomized chunk order (parallel_label_propagation.h:103-167),
and the standard fix for 2-cycle oscillation of synchronous LP on bipartite
structures.

Convergence metric: moved-label count (north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import carry, truncate
from kaminpar_spark.plans.superstep import run_supersteps


def label_scores(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """(id, label, score): total incident edge weight from node id toward each
    adjacent label (J1 gather; map-side partial agg absorbs hub keys)."""
    gathered = graph.gather(state.select("id", "label"), ["label"])
    return (
        gathered.groupBy(F.col("dst").alias("id"), "label")
        .agg(F.sum("weight").alias("score"))
    )


def _best_and_current(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """Per node: current label, best adjacent label (max score, min label on
    ties), plus both scores. Nodes with no neighbors keep their label.

    Fused plan: ONE join of the (id, label, score) table with the current
    labels, then ONE aggregate that computes best-struct argmax AND the
    own-label score together — round 1 ran two groupBys plus a filtered
    self-join here (three node-scale exchanges per superstep, measured as the
    dominant fixed cost at bench scale)."""
    scores = label_scores(graph, state)
    cur = state.select("id", F.col("label").alias("cur_label"))
    # shuffle-hash hints: truncated leaves carry no stats, so the planner
    # would otherwise sort-merge-join (sorting the larger scores side); see
    # GraphFrame.gather for the measurement.
    per = (
        scores.join(cur.hint("shuffle_hash"), "id")
        .groupBy("id")
        .agg(
            F.max(F.struct(F.col("score"), (-F.col("label")).alias("neg"))).alias("b"),
            F.max(F.when(F.col("label") == F.col("cur_label"), F.col("score"))).alias(
                "own_score"
            ),
        )
        .select(
            "id",
            F.col("b.score").alias("best_score"),
            (-F.col("b.neg")).alias("best_label"),
            "own_score",
        )
    )
    return cur.join(per.hint("shuffle_hash"), "id", "left").select(
        "id",
        "cur_label",
        F.coalesce("own_score", F.lit(0)).alias("cur_score"),
        F.coalesce("best_label", F.col("cur_label")).alias("best_label"),
        F.coalesce("best_score", F.lit(0)).alias("best_score"),
    )


def lp_step(
    graph: GraphFrame,
    state: DataFrame,
    step_idx: int = 0,
    max_cluster_weight: int | None = None,
    hard_caps: DataFrame | None = None,
    semi_sync: bool = True,
    seed: int = 42,
) -> DataFrame:
    """One LP superstep over state (id, label, weight).

    max_cluster_weight: cluster weight cap (clustering config).
    hard_caps: (label, capacity) — refinement config.
    Both caps admit by gain order within residual capacity (see ``admit``).
    Returns state with columns (id, label, weight, moved:int).

    Plan-size note: the candidate table is referenced several times below
    (admission, label weights). Vertex-scale intermediates are
    eagerly localCheckpointed to keep Catalyst's plan tree flat — without
    this, repeated self-references over unknown-size leaves send the
    optimizer's BigInt size estimation into combinatorial blowup.
    """
    cand = _best_and_current(graph, state).join(
        state.select("id", "weight"), "id"
    )
    if max_cluster_weight is not None or hard_caps is not None:
        cand = truncate(cand)
    wants_move = (F.col("best_label") != F.col("cur_label")) & (
        F.col("best_score") > F.col("cur_score")
    )
    if semi_sync:
        active = F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(2)) == F.lit(step_idx % 2)
        wants_move = wants_move & active

    cand = cand.withColumn("wants", wants_move)

    if max_cluster_weight is None and hard_caps is None:
        out = cand.select(
            "id",
            F.when(F.col("wants"), F.col("best_label")).otherwise(F.col("cur_label")).alias("label"),
            "weight",
            F.when(F.col("wants"), F.lit(1)).otherwise(F.lit(0)).alias("moved"),
        )
        return out

    # current per-label weights at superstep start (BSP; A5 analog)
    label_w = truncate(
        state.groupBy(F.col("label")).agg(F.sum("weight").alias("label_weight"))
    )

    # Capacity-respecting admission, shared by both cap configs: candidate
    # movers are ranked by gain within each TARGET label and admitted while
    # start-of-step weight + cumulative mover weight fits the capacity.
    # A naive "check start-of-step weight only" soft cap suffers a BSP
    # stampede: every neighbor of a hub joins it in the same superstep
    # (observed: cap 6, resulting cluster weight 96 on the transcript graph).
    # The reference's CAS loop serializes those joins
    # (parallel_label_propagation.h:229-243); ``admit`` is the
    # deterministic bulk-synchronous equivalent.
    gain = (F.col("best_score") - F.col("cur_score")).alias("gain")
    movers = cand.where(F.col("wants")).select("id", "best_label", "weight", gain)
    used = label_w.select(F.col("label").alias("best_label"), "label_weight")
    if hard_caps is not None:
        # k rows: broadcast, so a block that most movers target is no hot
        # join key
        room = hard_caps.select(F.col("label").alias("best_label"), "capacity")
        room = F.broadcast(room.join(used, "best_label", "left"))
    else:
        room = used.withColumn("capacity", F.lit(max_cluster_weight))
    admitted = (
        admit(movers, "best_label", "gain")
        .join(room, "best_label", "left")
        .where(
            F.col("ahead") + F.col("weight")
            <= F.coalesce("capacity", F.lit(1 << 62)) - F.coalesce("label_weight", F.lit(0))
        )
        .select("id", F.lit(True).alias("admit"))
    )
    cand = cand.join(admitted, "id", "left").withColumn(
        "admit", F.coalesce("admit", F.lit(False))
    )

    return cand.select(
        "id",
        F.when(F.col("admit"), F.col("best_label")).otherwise(F.col("cur_label")).alias("label"),
        "weight",
        F.when(F.col("admit"), F.lit(1)).otherwise(F.lit(0)).alias("moved"),
    )


def admit(movers: DataFrame, key: str, priority: str) -> DataFrame:
    """``movers`` (carrying ``id``, ``weight``, ``key``, ``priority``) plus
    ``ahead``: the summed weight of the movers with the same ``key`` that
    come before each mover in the order (``priority`` desc, ``id`` asc).
    Callers admit with a one-line rule on it: ``ahead + weight <= budget``
    fits a budget, ``ahead < budget`` covers one.

    One window per key: all movers of a key are ranked in one task, so a
    key that most movers share (one target block of k) is one long task.
    Splitting heavy keys did not pay on a 4-core host (BENCH/SKEW.md,
    "Admission shapes")."""
    ahead = (
        Window.partitionBy(key)
        .orderBy(F.desc(priority), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return movers.select("*", F.coalesce(F.sum("weight").over(ahead), F.lit(0)).alias("ahead"))


def merge_singleton_clusters(
    graph: GraphFrame,
    clustering: DataFrame,
    max_cluster_weight: int | None = None,
) -> DataFrame:
    """Favored-cluster singleton merge — the coarsening escape hatch
    (parallel_label_propagation_coarsener.h:83-114): when size caps keep LP
    from shrinking (hub-heavy graphs), singleton clusters are PAIRED by their
    *favored* cluster (best-scoring adjacent cluster ignoring the cap; two
    singletons that favor the same leader merge with each other, not into the
    full cluster).

    BSP re-expression of the reference's CAS matchmaking: rank singletons
    inside each favored-leader group by id, pair consecutive ranks, merge
    complete pairs under the smaller id. Deterministic; ``max_cluster_weight``
    optionally vetoes pairs that would exceed the cap (the reference merges
    unconditionally — pass None for parity).
    """
    sizes = clustering.groupBy("cluster").agg(F.count("*").alias("sz"))
    singles = (
        clustering.where(F.col("id") == F.col("cluster"))
        .join(sizes.where(F.col("sz") == 1).select("cluster"), "cluster", "left_semi")
        .select("id")
    )
    state = clustering.select("id", F.col("cluster").alias("label"))
    scores = label_scores(graph, state)
    fav = (
        scores.join(singles, "id", "left_semi")
        .groupBy("id")
        .agg(F.max(F.struct(F.col("score"), (-F.col("label")).alias("neg"))).alias("b"))
        .select("id", (-F.col("b.neg")).alias("favored"))
    )
    # favored == self: park under leader 0 like the reference
    # (merge_singleton_clusters branch, coarsener.h:95-96)
    fav = fav.select(
        "id",
        F.when(F.col("favored") == F.col("id"), F.lit(0).cast("long"))
        .otherwise(F.col("favored"))
        .alias("favored"),
    )
    fav = fav.join(graph.nodes.select("id", "weight"), "id")
    w = Window.partitionBy("favored").orderBy("id")
    ranked = fav.withColumn("grp", F.floor((F.row_number().over(w) - 1) / 2))
    pairs = ranked.groupBy("favored", "grp").agg(
        F.min("id").alias("leader"),
        F.count("*").alias("c"),
        F.sum("weight").alias("pair_weight"),
    )
    ok = pairs.where(F.col("c") == 2)
    if max_cluster_weight is not None:
        ok = ok.where(F.col("pair_weight") <= max_cluster_weight)
    merged = ranked.join(
        ok.select("favored", "grp", "leader"), ["favored", "grp"]
    ).select("id", F.col("leader").alias("new_cluster"))
    return clustering.join(merged, "id", "left").select(
        "id", F.coalesce("new_cluster", F.col("cluster")).alias("cluster")
    )


def label_propagation(
    graph: GraphFrame,
    max_iters: int = 10,
    max_cluster_weight: int | None = None,
    semi_sync: bool = True,
    runner=None,
    on_metrics=None,
    name: str = "labelprop",
    track_convergence: bool = True,
) -> DataFrame:
    """Run LP from singleton labels to convergence (no label moved).
    Returns (id, label)."""
    state = graph.nodes.select(
        "id", F.col("id").alias("label"), "weight", F.lit(0).alias("moved")
    )

    def step(s: DataFrame, i: int) -> DataFrame:
        return lp_step(
            graph,
            s,
            step_idx=i,
            max_cluster_weight=max_cluster_weight,
            semi_sync=semi_sync,
        )

    def metrics(new: DataFrame) -> dict:
        if not track_convergence:
            return {"moved": -1}
        moved = new.agg(F.sum("moved")).first()[0] or 0
        return {"moved": int(moved)}

    # With semi-sync scheduling only half the nodes are active per step, so a
    # single moved==0 step can be a fluke of the inactive half — require two
    # consecutive quiet steps before declaring convergence.
    history: list[int] = []

    def converged(m: dict) -> bool:
        if not track_convergence:
            return False
        history.append(m["moved"])
        if not semi_sync:
            return m["moved"] == 0
        return history[-2:] == [0, 0]

    final = run_supersteps(state, step, metrics, converged, max_iters, runner, name, on_metrics)
    return carry(final.select("id", "label"), final)


def seeded_label_propagation(
    graph: GraphFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """(id, label) — SEMI-SUPERVISED label propagation (seed expansion /
    label spreading): ``seeds`` is (id, label); seed labels are FIXED, every
    other node re-computes the weight-plurality label among its currently-
    labeled neighbors each round (ties break to the smaller label; a node
    with no labeled neighbors stays unlabeled, NULL). This is the
    classification flavor of LP — distinct from the clustering LPA above,
    whose labels all float.

    Exactness: plurality weights are int64 sums; the argmax is
    max(struct(w, -label)) — order-free, bit-reproducible in SQL via
    (w DESC, label ASC) ranking. Scale shape per round: one J1 gather of
    labeled state + one (dst, label) hash aggregate + one struct-max
    aggregate per dst (bounded by the number of DISTINCT labels — a class
    count, not a degree) + one hinted n-scale join."""
    sd = seeds.select("id", F.col("label").cast("long").alias("seed_label"))
    state = (
        graph.nodes.select("id")
        .join(sd.hint("shuffle_hash"), "id", "left")
        .select("id", F.col("seed_label"), F.col("seed_label").alias("label"))
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        labeled = state.where(F.col("label").isNotNull()).select("id", "label")
        gathered = graph.gather(labeled, ["label"])
        votes = (
            gathered.groupBy(F.col("dst").alias("id"), "label")
            .agg(F.sum("weight").alias("w"))
        )
        best = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("w"), (-F.col("label")).alias("nl"))).alias("b"))
            .select("id", (-F.col("b.nl")).alias("new_label"))
        )
        return (
            state.select("id", "seed_label", F.col("label").alias("old_label"))
            .join(best.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                "seed_label",
                F.coalesce(
                    "seed_label", F.coalesce("new_label", "old_label")
                ).alias("label"),
            )
        )

    final = run_supersteps(state, step, lambda new: {}, lambda m: False, rounds)
    return carry(final.select("id", "label"), final)
