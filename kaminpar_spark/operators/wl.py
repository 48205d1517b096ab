"""Weisfeiler-Lehman structural refinement (1-WL color refinement).

The canonical structural-equivalence operator for graph ML: nodes start with
their degree as a label; each round every node re-labels from (own label,
the MULTISET of neighbor labels). Two nodes keep equal labels only while the
rounds cannot tell their neighborhoods apart — after r rounds the label is a
fingerprint of the radius-r structure (the WL graph-kernel feature, and the
exact expressiveness ceiling of message-passing GNNs, Xu et al. ICLR 2019).

Distributed shape: the textbook WL sorts each node's neighbor labels and
hashes the concatenation — a per-node sort that makes mega-hubs stragglers
(the same shape VERDICT r2 flagged in the old h-index window). This
implementation replaces the sorted concatenation with a MULTISET HASH: each
neighbor label is hashed to [0, M) and SUMMED (order-free int64, exact), and
the new label mixes (own label, neighbor-hash sum, degree) modulo M =
2^31 - 1. The round is then ONE salted gather + ONE hash aggregate with
map-side combine — no window, no sort, hub-safe — and bit-reproducible in
ANSI SQL (the DuckDB oracle replays the identical arithmetic).

Collision note: labels live in [0, M); a collision merges two classes with
probability ~n_classes^2 / 2M per round — at driver-query scale (~4k nodes)
negligible, and any merge is IDENTICAL across engines (determinism is
unaffected; only the partition-refinement guarantee weakens).

Reference parity: no KaMinPar analog (structural fingerprints are out of its
scope); the superstep shape is the LP/CC kernel (J1 gather + aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import carry, release, truncate
from kaminpar_spark.plans.superstep import run_supersteps

WL_MOD = 2147483647  # 2^31 - 1 (same cross-engine modulus family as hashing)
WL_A = 1000003  # neighbor-label pre-hash multiplier
WL_B = 999983  # own-label mixer


def wl_init(graph: GraphFrame) -> DataFrame:
    """(id, wl) — round-0 labels: degree mod M (the first refinement of the
    uniform coloring)."""
    return graph.degrees().select("id", (F.col("degree") % WL_MOD).alias("wl"))


def wl_round(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """One refinement round: wl' = ((wl*B) % M + (Σ_nbr (wl_nbr*A + 1) % M) % M
    + deg) % M. The neighbor sum is bounded by deg * M < 2^54 at 10^7-degree
    hubs — inside int64, no overflow."""
    gathered = graph.gather(state, ["wl"])
    nbr = (
        gathered.select(F.col("dst").alias("id"), F.col("wl"))
        .groupBy("id")
        .agg(
            F.sum((F.col("wl") * F.lit(WL_A) + F.lit(1)) % F.lit(WL_MOD)).alias("sh"),
            F.count("*").alias("cnt"),
        )
    )
    return (
        state.select("id", F.col("wl").alias("own"))
        .join(nbr.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            (
                (
                    (F.col("own") * F.lit(WL_B)) % F.lit(WL_MOD)
                    + F.coalesce(F.col("sh"), F.lit(0)) % F.lit(WL_MOD)
                    + F.coalesce(F.col("cnt"), F.lit(0))
                )
                % F.lit(WL_MOD)
            ).alias("wl"),
        )
    )


def wl_refine(
    graph: GraphFrame, rounds: int = 2, runner=None, name: str = "wl_refine"
) -> DataFrame:
    """(id, wl) after ``rounds`` refinement rounds. Each round is
    materialized so lineage stays flat — the standard superstep contract.

    ``runner`` (plans.superstep.SuperstepRunner) makes every round a durable
    snapshot with a changed-label metric, resumable mid-iteration; early
    exit at changed == 0 is parity-safe only in the no-collision limit (a
    fixpoint partition relabels injectively), so the runner path still runs
    the full ``rounds`` unless the labels are literally unchanged — which
    IS the modular fixpoint."""
    def step(s: DataFrame, i: int) -> DataFrame:
        cur = s.select("id", "wl")
        new = wl_round(graph, cur)
        if runner is None:
            return new
        prev = cur.select("id", F.col("wl").alias("p_wl"))
        return new.join(prev.hint("shuffle_hash"), "id")

    def metrics(new: DataFrame) -> dict:
        if runner is None:
            return {}
        ch = new.agg(
            F.sum((F.col("wl") != F.col("p_wl")).cast("int")).alias("ch")
        ).first()["ch"]
        return {"changed": int(ch or 0)}

    def converged(m: dict) -> bool:
        return runner is not None and m.get("changed") == 0

    final = run_supersteps(wl_init(graph), step, metrics, converged, rounds, runner, name)
    return carry(final.select("id", "wl"), final)


def wl_class_counts(graph: GraphFrame, rounds: int = 2) -> list[int]:
    """Number of distinct structural classes after each round 0..rounds —
    non-decreasing (refinement only splits classes, modulo hash collisions);
    the fixpoint count is the graph's 1-WL color count."""
    def classes(s: DataFrame) -> dict:
        return {"classes": s.select("wl").distinct().count()}

    init = truncate(wl_init(graph))
    out = [classes(init)["classes"]]
    final = run_supersteps(
        init, lambda s, i: wl_round(graph, s), classes, lambda m: False, rounds,
        on_metrics=lambda i, m: out.append(m["classes"]), truncate_init=False,
    )
    release(final)
    return out
