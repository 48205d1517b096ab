"""Balancer — drain overloaded blocks (SURVEY.md I4).

Reference: refinement/parallel_balancer.cc:6-293 — per overloaded block, a PQ
of border nodes ordered by *relative gain* (gain>=0 ? gain*weight :
gain/weight, parallel_balancer.h:109-115); pop, move to the best adjacent
non-full block, else to a random underloaded block.

BSP re-expression per round (deterministic, no CAS):
1. compute per-node best external target among blocks with residual capacity
   (the J1 gather + argmax, excluding infeasible targets like
   parallel_balancer.cc:219),
2. quantize each candidate's relative gain into a bounded gain bucket
   (``_gain_bucket``: floor clamped to +-BAL_GAIN_BUCKETS, plus one bottom
   bucket for the fallback movers) — the W4 priority order,
3. rank movers by (gain bucket desc, id asc) and admit with
   ``labelprop.admit``'s exact weight ahead: per overloaded source block
   while the weight ahead of a mover is below the block's overload (the
   reference pops movers while the block is still overloaded), then per
   target while the weight ahead plus the mover's own fits the target's
   residual capacity,
4. repeat until total_overload == 0 or max_rounds (``balance``).

Contract: one ``balance_round`` never takes a block over its cap that was
under it, and each overloaded source offers movers until their weight
covers its overload. A source whose movers the targets turn away stays
overloaded; ``balance`` re-measures the block weights and repeats rounds
until no block is over its cap (or ``max_rounds`` runs out).

Fallback targets: nodes with no feasible adjacent block are sent to the
lightest underloaded block (deterministic stand-in for the reference's random
move, parallel_balancer.cc:262-283).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.labelprop import admit, label_scores
from kaminpar_spark.plans.lineage import truncate
from kaminpar_spark.plans.superstep import run_supersteps


def _with_caps(bw: DataFrame, max_block_weight: int | list[int]) -> DataFrame:
    """Attach a per-row ``cap`` column to the (block, bweight) table: a lit
    for the scalar case, a broadcast (block, cap) join for per-block lists."""
    if isinstance(max_block_weight, (int, float)):
        return bw.withColumn("cap", F.lit(int(max_block_weight)).cast("long"))
    caps = bw.sparkSession.createDataFrame(
        [(b, int(c)) for b, c in enumerate(max_block_weight)], "block int, cap long"
    )
    return bw.join(F.broadcast(caps), "block")


def balance_round(
    graph: GraphFrame,
    partition: DataFrame,
    max_block_weight: int | list[int],
    k: int | None = None,
) -> DataFrame:
    """One balancer round. partition: (id, block). Returns updated (id, block).

    ``max_block_weight``: scalar cap, or a per-block list (deep partitioning
    gives block b a cap proportional to its final_k share,
    context.cc:114-130 setup_max_block_weight(final_ks)).

    ``k``: total block count. Without it, block weights are derived from the
    partition rows alone, which makes EMPTY blocks invisible — they can never
    be balance targets even though they have the most residual capacity (a
    degenerate all-in-one-block partition would then be unfixable). Callers
    that know k (the partitioner) must pass it."""
    state = partition.select("id", F.col("block").cast("long").alias("label"))
    # bw and scores are each referenced several times below; materialize them
    # (vertex-scale, cheap) so the optimizer sees flat leaves instead of an
    # exponentially-expanding tree of self-references.
    bw = (
        graph.nodes.join(partition, "id")
        .groupBy("block")
        .agg(F.sum("weight").alias("bweight"))
    )
    if k is not None:
        all_blocks = partition.sparkSession.createDataFrame(
            [(b,) for b in range(k)], "block int"
        )
        bw = all_blocks.join(bw, "block", "left").select(
            "block", F.coalesce("bweight", F.lit(0)).cast("long").alias("bweight")
        )
    bw = truncate(_with_caps(bw, max_block_weight))
    over = bw.where(F.col("bweight") > F.col("cap"))
    if over.limit(1).count() == 0:
        return partition  # already balanced

    scores = truncate(label_scores(graph, state))  # (id, label, score)
    cur = partition.join(graph.nodes.select("id", "weight"), "id")
    cur_score = (
        scores.join(
            partition.select("id", F.col("block").cast("long").alias("label")),
            ["id", "label"],
        )
        .select("id", F.col("score").alias("cur_score"))
    )
    # movers: nodes in overloaded blocks
    movers = cur.join(over.select("block"), "block", "left_semi")
    # candidate targets: adjacent blocks with residual capacity
    resid = bw.select(
        F.col("block").cast("long").alias("label"),
        (F.col("cap") - F.col("bweight")).alias("residual"),
    )
    cand = (
        movers.join(scores, "id")
        .where(F.col("label") != F.col("block").cast("long"))
        .join(resid, "label")
        .where(F.col("residual") >= F.col("weight"))
        .join(cur_score, "id", "left")
        .withColumn("gain", F.col("score") - F.coalesce("cur_score", F.lit(0)))
    )
    # best target per node: max (gain, -label)
    best = (
        cand.groupBy("id", "block", "weight")
        .agg(F.max(F.struct(F.col("gain"), (-F.col("label")).alias("neg"))).alias("b"))
        .select(
            "id",
            "block",
            "weight",
            F.col("b.gain").alias("gain"),
            (-F.col("b.neg")).alias("target"),
        )
        .withColumn(
            "rel_gain",
            F.when(F.col("gain") >= 0, F.col("gain") * F.col("weight"))
            .otherwise(F.col("gain") / F.col("weight"))
            .cast("double"),
        )
    )
    # fallback: movers with NO feasible adjacent block go to the lightest
    # block with residual capacity (deterministic replacement for the
    # reference's random move, parallel_balancer.cc:262-283). They carry the
    # lowest possible rel_gain so gain-ordered admission drains real
    # candidates first.
    lightest = (
        bw.where(F.col("bweight") < F.col("cap"))
        .orderBy(F.asc("bweight"), F.asc("block"))
        .limit(1)
        .select(F.col("block").cast("long").alias("fb_target"))
    )
    no_target = (
        movers.join(best.select("id"), "id", "left_anti")
        .crossJoin(F.broadcast(lightest))
        .where(F.col("fb_target") != F.col("block").cast("long"))
        .select(
            "id",
            "block",
            "weight",
            F.lit(None).cast("long").alias("gain"),
            F.col("fb_target").alias("target"),
            F.lit(float("-inf")).alias("rel_gain"),
        )
    )
    best = best.select("id", "block", "weight", "gain", "target", "rel_gain").unionByName(
        no_target
    )
    overload = over.select(
        "block", (F.col("bweight") - F.col("cap")).alias("overload")
    )
    # materialize: the two admissions below stack windows and joins on the
    # candidate/gain plan above; a flat leaf keeps their plan small
    best = truncate(best.withColumn("gq", _gain_bucket(F.col("rel_gain"))))
    # the budget tables hold k rows: broadcast them, so an overloaded block
    # or a popular target is no hot join key
    src = (
        admit(best, "block", "gq")
        .join(F.broadcast(overload), "block")
        .where(F.col("ahead") < F.col("overload"))
        .drop("ahead", "overload")
    )
    resid_t = resid.select(F.col("label").alias("target"), "residual")
    admitted = (
        admit(src, "target", "gq")
        .join(F.broadcast(resid_t), "target")
        .where(F.col("ahead") + F.col("weight") <= F.col("residual"))
        .select("id", F.col("target").cast("int").alias("new_block"))
    )
    return (
        partition.join(admitted, "id", "left")
        .select("id", F.coalesce("new_block", "block").cast("int").alias("block"))
    )


BAL_GAIN_BUCKETS = 4096


def _gain_bucket(col: F.Column) -> F.Column:
    """Monotone, hard-bounded quantization of rel_gain: floor clamped to
    +-BAL_GAIN_BUCKETS; the -inf fallback class gets its own bottom bucket.
    The clamp ranks every rel_gain beyond +-BAL_GAIN_BUCKETS by id alone.
    floor + clamp are bit-identical across Spark and DuckDB (one IEEE floor
    on a double)."""
    return (
        F.when(col == F.lit(float("-inf")), F.lit(-(BAL_GAIN_BUCKETS + 2)))
        .otherwise(
            F.greatest(
                F.lit(-BAL_GAIN_BUCKETS),
                F.least(F.lit(BAL_GAIN_BUCKETS), F.floor(col)),
            )
        )
        .cast("long")
    )


def balance(
    graph: GraphFrame,
    partition: DataFrame,
    max_block_weight: int | list[int],
    max_rounds: int = 10,
    k: int | None = None,
) -> DataFrame:
    """Iterate balance rounds until no block exceeds its cap (scalar or
    per-block list, see balance_round)."""

    def overload(part: DataFrame) -> dict:
        bw = graph.nodes.join(part, "id").groupBy("block").agg(F.sum("weight").alias("bweight"))
        total = (
            _with_caps(bw, max_block_weight)
            .agg(F.sum(F.greatest(F.lit(0), F.col("bweight") - F.col("cap"))))
            .first()[0]
        )
        return {"overload": total or 0}

    rounds_left = iter(range(max_rounds - 1, -1, -1))

    def overload_if_rounds_left(new: DataFrame) -> dict:
        # after the last round nothing reads the check
        return overload(new) if next(rounds_left) else {"overload": None}

    part = truncate(partition)
    if overload(part)["overload"] == 0:
        return part
    return run_supersteps(
        part, lambda s, i: balance_round(graph, s, max_block_weight, k=k),
        overload_if_rounds_left, lambda m: m["overload"] == 0, max_rounds, truncate_init=False,
    )
