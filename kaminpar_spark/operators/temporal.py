"""Temporal graph reachability: earliest-arrival paths over timestamped
edges.

Transcripts are a TEMPORAL graph — an edge (u, v, t) is traversable only at
time t — and time-respecting reachability (arrive at u no later than t, then
cross) is the honest "influence" question for conversation flows: static
reachability overcounts (it happily routes information backwards in time).
Earliest-arrival is the temporal-graph primitive (Wu et al., VLDB'14:
single-pass algorithms for temporal paths); no reference analog (KaMinPar's
graphs are static).

Recurrence: arr(v) = min over edges (u, v, t) with t >= arr(u) of t, seeded
arr(s) = -inf (represented as 0 epoch — every edge leaving the source is
usable). arr only decreases and is bounded below, and each superstep is one
equi-join state->edges + a ts-window filter + one min groupBy (the J1
shape with an extra predicate). Fixed ``rounds`` in lockstep with the
unrolled SQL oracle keeps truncation reproducible; converged early rounds
are no-ops (monotone fixpoint).

Hub note: the relaxation joins raw (src, dst, ts) edges on src, so a
10^7-out-degree hub lands its edges on one reducer — the static kernels
solve this with the salted prepared layout (graph.py:204); here the same
salting applies unchanged if needed (explode the reached side over the
hub's salts) because the join is still a per-src gather. Left unsalted by
default: temporal edge tables carry a ts per interaction, so multiplicity
lives in ROWS (not a weight column) and per-(src,salt) partitions stay
balanced under the same hash layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.plans.lineage import carry, truncate
from kaminpar_spark.plans.superstep import run_supersteps


def earliest_arrival(
    tedges: DataFrame, sources, rounds: int = 6, runner=None,
    name: str = "earliest_arrival",
) -> DataFrame:
    """(id, arrival) — earliest time-respecting arrival (epoch seconds) from
    any source within ``rounds`` temporal hops; sources report 0; unreached
    nodes are absent. ``tedges``: (src, dst, ts). ``runner``
    (plans.superstep.SuperstepRunner) snapshots each relaxation round with
    improved-count metrics, resumable mid-iteration; early convergence is
    safe (the fixpoint is monotone — extra rounds are identity)."""
    spark = tedges.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col("id"))
    else:
        src_df = spark.createDataFrame([(int(i),) for i in sources], "id long")
    nodes = truncate(
        tedges.select(F.col("src").alias("id"))
        .unionByName(tedges.select(F.col("dst").alias("id")))
        .distinct()
    )
    state = nodes.join(src_df.withColumn("z", F.lit(0)), "id", "left").select(
        "id",
        F.when(F.col("z").isNotNull(), F.lit(0)).cast("long").alias("arr"),
        F.when(F.col("z").isNotNull(), F.lit(0)).cast("long").alias("old_arr"),
    )

    def step(s: DataFrame, i: int) -> DataFrame:
        reached = s.where(F.col("arr").isNotNull()).select(
            F.col("id").alias("src"), "arr"
        )
        cand = (
            tedges.join(reached.hint("shuffle_hash"), "src")
            .where(F.col("ts") >= F.col("arr"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("ts").alias("na"))
        )
        return (
            s.select("id", F.col("arr").alias("old_arr"))
            .join(cand.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.when(F.col("old_arr").isNull(), F.col("na"))
                .otherwise(F.least("old_arr", F.coalesce("na", "old_arr")))
                .alias("arr"),
                "old_arr",
            )
        )

    def metrics(new: DataFrame) -> dict:
        improved = new.agg(
            F.sum(
                (~F.col("arr").eqNullSafe(F.col("old_arr"))).cast("int")
            ).alias("mv")
        ).first()["mv"]
        return {"improved": int(improved or 0)}

    def converged(m: dict) -> bool:
        return m["improved"] == 0

    final = run_supersteps(state, step, metrics, converged, rounds, runner, name)
    return carry(
        final.where(F.col("arr").isNotNull()).select("id", F.col("arr").alias("arrival")), final
    )


def temporal_triangles(
    tedges: DataFrame, deltas: tuple[int, ...] = (20, 60)
) -> DataFrame:
    """One row (tri_d<δ> per delta, ascending): counts of δ-temporal triangle
    motifs — edge triples (u→v, t1), (v→w, t2), (w→u, t3) over three DISTINCT
    actors with STRICTLY increasing timestamps closing within the window,
    t1 < t2 < t3 <= t1 + δ (the cyclic M_{3,3} motif of Paranjape et al.,
    WSDM'17). Static triangle counts answer "who co-interacts"; the temporal
    version answers "does interaction actually circulate" — on conversation
    flows an A→B→C→A loop within a minute is a round-trip signal that the
    static count overstates by orders of magnitude (measured at sf0.01:
    175.8M unbounded vs 99.7k at δ=60).

    Scale shape: BOTH joins carry the max-δ window in the join predicate —
    the wedge join admits only continuations with t2 ∈ (t1, t1+δmax], so the
    intermediate is O(edges x continuations-within-δ), never the unbounded
    wedge set; smaller deltas are conditional sums in ONE final aggregate
    (no per-δ re-join). Joins are per-src gathers on distinct (src, dst, ts)
    triples, shuffle-hash hinted like every superstep join; the module
    docstring's hub note applies unchanged.

    ``tedges``: (src, dst, ts) with unique triples and src != dst (the
    transcript temporal ETL guarantees both).
    """
    dmax = max(deltas)
    e1 = tedges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ts").alias("t1")
    )
    e2 = tedges.select(
        F.col("src").alias("v"), F.col("dst").alias("w"), F.col("ts").alias("t2")
    )
    e3 = tedges.select(
        F.col("src").alias("w"), F.col("dst").alias("u"), F.col("ts").alias("t3")
    )
    wedges = (
        e1.join(e2.hint("shuffle_hash"), "v")
        .where(
            (F.col("t2") > F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.lit(dmax))
            & (F.col("w") != F.col("u"))
        )
        .select("u", "w", "t1", "t2")
    )
    tris = wedges.join(e3.hint("shuffle_hash"), ["w", "u"]).where(
        (F.col("t3") > F.col("t2")) & (F.col("t3") <= F.col("t1") + F.lit(dmax))
    )
    return tris.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(F.col("t3") <= F.col("t1") + F.lit(d), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"tri_d{d}")
            for d in sorted(deltas)
        ]
    )


