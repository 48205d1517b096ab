"""PageRank as bulk-synchronous supersteps (SURVEY.md I8, north rule).

One superstep = the engine's canonical gather/scatter:
    contribs = edges ⋈ state on src   (GraphFrame.gather — on a prepared
                                       graph neither side is shuffled)
    sums     = contribs.groupBy(dst).sum()  (partial/map-side agg absorbs hub
                                            dst keys before the shuffle)
    ranks'   = (1-d)/n + d * (sums + dangling_mass/n)

On a prepared graph without hubs the state (hash-partitioned by ``id``
through ``lineage.truncate``), the edges (by ``src``) and ``sums`` (by ``id``)
are co-partitioned, so a steady in-memory superstep runs exactly one shuffle:
the ``groupBy(dst)`` message aggregate.

Dangling (degree-0) nodes redistribute their mass uniformly, matching the
standard power-iteration oracle. Convergence metric: residual L1 =
sum |r' - r| (BASELINE.json correctness bar: allclose 1e-6 vs numpy oracle).

Reference parity note: KaMinPar has no PageRank; this operator implements the
north rule's required kernel on the same gather/scatter plumbing its label
propagation uses (parallel_label_propagation.h:278-286).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import carry
from kaminpar_spark.plans.superstep import run_supersteps


def init_ranks(
    graph: GraphFrame,
    n: int,
    weighted: bool = False,
    warm_start: DataFrame | None = None,
) -> DataFrame:
    """(id, rank, out_norm) — out_norm is the precomputed contribution
    normalizer 1/degree (or 1/weighted_degree when edge weights matter).

    ``warm_start``: (id, rank) from a previous snapshot's converged run.
    Nodes present there start from their old rank, new nodes from 1/n, and
    the vector is renormalized to unit mass — on a snapshot update (the
    production cadence: re-rank after each transcript ingest) the walk
    re-converges from the old fixpoint in a fraction of the cold-start
    supersteps instead of repaying the full iteration budget."""
    deg = graph.degrees()
    norm = (1.0 / F.col("weighted_degree")) if weighted else (1.0 / F.col("degree"))
    state = deg.select(
        "id",
        F.lit(1.0 / n).alias("rank"),
        F.when(F.col("degree") > 0, norm).otherwise(F.lit(0.0)).alias("out_norm"),
        F.lit(0.0).alias("old_rank"),
    )
    if warm_start is None:
        return state
    prev = warm_start.select("id", F.col("rank").alias("prev_rank"))
    seeded = state.join(prev, "id", "left").select(
        "id",
        F.coalesce("prev_rank", "rank").alias("rank"),
        "out_norm",
        "old_rank",
    )
    total = seeded.agg(F.sum("rank")).first()[0] or 1.0
    return seeded.withColumn("rank", F.col("rank") / F.lit(total))


def pagerank_step(
    graph: GraphFrame,
    ranks: DataFrame,
    n: int,
    damping: float = 0.85,
    weighted: bool = False,
    dangling_mass: float | None = None,
) -> DataFrame:
    """One superstep over state (id, rank, out_norm). ``dangling_mass`` may be
    passed in when the caller already knows it (saves one job); otherwise it
    is computed with a tiny filtered aggregate."""
    if dangling_mass is None:
        dangling_mass = (
            ranks.where(F.col("out_norm") == 0.0).agg(F.sum("rank")).first()[0] or 0.0
        )
    contribs = graph.gather(ranks, ["rank", "out_norm"])
    wcol = F.col("weight") if weighted else F.lit(1.0)
    sums = (
        contribs.select(
            F.col("dst").alias("id"),
            (F.col("rank") * F.col("out_norm") * wcol).alias("c"),
        )
        .groupBy("id")
        .agg(F.sum("c").alias("in_sum"))
    )
    base = (1.0 - damping) / n + damping * dangling_mass / n
    return (
        ranks.select("id", "out_norm", F.col("rank").alias("old_rank"))
        .join(sums.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            (F.lit(base) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))).alias(
                "rank"
            ),
            "out_norm",
            "old_rank",
        )
    )


def _has_dangling(graph: GraphFrame, state: DataFrame) -> bool:
    """Whether any node has out_norm 0. When it is False the per-step
    dangling-mass aggregate is skipped (one Spark job per superstep). A
    derived node table holds only edge sources, so every out-degree is at
    least 1 by construction and the probe job is skipped too."""
    if graph._nodes_derived:
        return False
    return state.where(F.col("out_norm") == 0.0).limit(1).count() > 0


def pagerank(
    graph: GraphFrame,
    damping: float = 0.85,
    tol: float = 1e-8,
    max_iters: int = 100,
    weighted: bool = False,
    runner=None,
    on_metrics=None,
    warm_start: DataFrame | None = None,
) -> DataFrame:
    """Run to convergence; returns (id, rank). With a SuperstepRunner the loop
    is durable + resumable; otherwise in-memory with truncated lineage."""

    n = graph.num_nodes()
    state = init_ranks(graph, n, weighted=weighted, warm_start=warm_start)
    has_dangling = _has_dangling(graph, state)

    def step(s: DataFrame, i: int) -> DataFrame:
        return pagerank_step(
            graph, s, n, damping, weighted,
            dangling_mass=None if has_dangling else 0.0,
        )

    if tol <= 0.0:
        # fixed-iteration mode: no convergence aggregate -> one less Spark
        # job per superstep (bench/scaling path)
        def metrics(new: DataFrame) -> dict:
            return {}

        def converged(m: dict) -> bool:
            return False
    else:
        def metrics(new: DataFrame) -> dict:
            r = new.agg(
                F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("res")
            ).first()
            return {"residual_l1": float(r["res"] or 0.0)}

        def converged(m: dict) -> bool:
            return m["residual_l1"] < tol

    final = run_supersteps(
        state, step, metrics, converged, max_iters, runner, "pagerank", on_metrics
    )
    return carry(final.select("id", "rank"), final)


def personalized_pagerank(
    graph: GraphFrame,
    source_ids,
    damping: float = 0.85,
    tol: float = 1e-8,
    max_iters: int = 100,
    runner=None,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the ``source_ids`` set
    (uniformly) instead of to all nodes — r' = (1-d)*p0 + d*(A^T D^-1 r +
    dangling_mass * p0). Same gather/scatter superstep as global PageRank; the
    reset vector rides in the state as a per-node column, so no extra join.

    ``source_ids`` is a list of node ids or a (id) DataFrame (broadcast-joined
    once at init — source sets are small by use-case)."""

    n = graph.num_nodes()
    spark = graph.nodes.sparkSession
    if isinstance(source_ids, DataFrame):
        src_df = source_ids.select("id")
    else:
        src_df = spark.createDataFrame([(int(i),) for i in source_ids], "id long")
    n_src = src_df.count()
    deg = graph.degrees()
    state = (
        deg.join(F.broadcast(src_df.withColumn("reset", F.lit(1.0 / n_src))), "id", "left")
        .select(
            "id",
            F.coalesce("reset", F.lit(0.0)).alias("reset"),
            F.when(F.col("degree") > 0, 1.0 / F.col("degree"))
            .otherwise(F.lit(0.0))
            .alias("out_norm"),
        )
        .withColumn("rank", F.col("reset"))
        .withColumn("old_rank", F.lit(0.0))
    )
    has_dangling = _has_dangling(graph, state)

    def step(s: DataFrame, i: int) -> DataFrame:
        dangling_mass = (
            (s.where(F.col("out_norm") == 0.0).agg(F.sum("rank")).first()[0] or 0.0)
            if has_dangling
            else 0.0
        )
        contribs = graph.gather(s, ["rank", "out_norm"])
        sums = (
            contribs.select(
                F.col("dst").alias("id"), (F.col("rank") * F.col("out_norm")).alias("c")
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )
        return (
            s.select("id", "reset", "out_norm", F.col("rank").alias("old_rank"))
            .join(sums.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                "reset",
                "out_norm",
                "old_rank",
                (
                    (1.0 - damping) * F.col("reset")
                    + damping
                    * (F.coalesce("in_sum", F.lit(0.0)) + dangling_mass * F.col("reset"))
                ).alias("rank"),
            )
        )

    def metrics(new: DataFrame) -> dict:
        if tol <= 0.0:
            return {}
        r = new.agg(F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("res")).first()
        return {"residual_l1": float(r["res"] or 0.0)}

    def converged(m: dict) -> bool:
        return bool(m) and m["residual_l1"] < tol

    final = run_supersteps(state, step, metrics, converged, max_iters, runner, "ppr")
    return carry(final.select("id", "rank"), final)
