"""Strongly connected components over a DIRECTED edge table.

The engine's undirected CC (operators/components.py, reference
apps/tools/graph_tools.cc:91-126) answers "who is linked"; SCC answers the
directed question on the transcript turn graph — which actors sit on
mutual-influence cycles (user -> agent -> tool -> user) vs pure up/downstream
feeders. No reference analog (KaMinPar's graphs are symmetric by
construction, kaminpar/datastructure/graph.h:79-181); the algorithm is the
published **Multistep SCC** shape (Slota/Rajamanickam/Madduri, IPDPS'14):

  round: TRIM   — nodes with no remaining in-edges or no remaining out-edges
                  are singleton SCCs; peel iteratively (kills chains/tails
                  that would otherwise cost one FW-BW round EACH),
         FW/BW  — min-label propagation fixpoints: F(v) = min id over
                  {v} ∪ ancestors, B(v) = min id over {v} ∪ descendants,
                  within the remaining subgraph,
         ASSIGN — F(v) == B(v) == r ⟹ r is both an ancestor and a descendant
                  of v, so v ∈ SCC(r); an SCC's members share ancestor and
                  descendant sets, so the WHOLE SCC of the minimum remaining
                  id is assigned every round (labels = min id in the SCC,
                  which is what the DuckDB transitive-closure oracle checks).

Scale shape: each FW/BW superstep is the CC kernel — one equi-join
state->edges + one min groupBy with map-side partial aggregation, plus the
pointer-doubling shortcut (min-ancestor is transitive, so lab' =
min(lab, lab[lab]) is a valid label-forest halving — O(log n) supersteps on
high-diameter graphs). Trim is two distinct-projections + anti-joins. The
driver-side loop runs O(#rounds) times, not O(#SCCs): real link graphs have
one giant SCC plus trimmable tendrils (round 1 assigns almost everything).
No collects; per-round state is lineage-truncated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.plans.lineage import carry, release, truncate
from kaminpar_spark.plans.superstep import run_supersteps


def _min_reach_labels(
    edges: DataFrame, nodes: DataFrame, forward: bool, max_iters: int
) -> DataFrame:
    """(id, lab) with lab = min id over {self} ∪ ancestors (forward=True) or
    {self} ∪ descendants (forward=False), via hash-to-min supersteps with
    pointer doubling (components.py shape on the directed relation)."""
    src, dst = ("src", "dst") if forward else ("dst", "src")
    state = nodes.select(
        "id", F.col("id").alias("lab"), F.col("id").alias("old_lab")
    )

    def step(s: DataFrame, i: int) -> DataFrame:
        gathered = (
            edges.join(
                s.select(F.col("id").alias(src), "lab").hint("shuffle_hash"), src
            )
            .groupBy(F.col(dst).alias("id"))
            .agg(F.min("lab").alias("nmin"))
        )
        new = (
            s.select("id", F.col("lab").alias("old_lab"))
            .join(gathered.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("old_lab"), F.coalesce("nmin", F.col("old_lab"))
                ).alias("lab"),
                "old_lab",
            )
        )
        # pointer doubling: min-ancestor is transitive (an ancestor's
        # ancestor is an ancestor), so lab[lab] is a valid shortcut
        labels = new.select(F.col("id").alias("lid"), F.col("lab").alias("llab"))
        return (
            new.join(labels.hint("shuffle_hash"), new.lab == labels.lid, "left")
            .select(
                "id",
                F.least(F.col("lab"), F.coalesce("llab", "lab")).alias("lab"),
                "old_lab",
            )
        )

    def metrics(new: DataFrame) -> dict:
        moved = new.agg(
            F.sum((F.col("lab") != F.col("old_lab")).cast("int")).alias("mv")
        ).first()["mv"]
        return {"moved": int(moved or 0)}

    final = run_supersteps(state, step, metrics, lambda m: m["moved"] == 0, max_iters)
    return carry(final.select("id", "lab"), final)


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 30,
    max_iters: int = 50,
    trim_iters: int = 10,
) -> DataFrame:
    """(id, scc) over a directed (src, dst[, weight]) table; scc = min node
    id in the strongly connected component. Raises RuntimeError if the
    round budget is exhausted before every node is assigned (the per-round
    guarantee — the minimum remaining id's whole SCC is assigned — makes
    that an adversarial-input signal, not a tuning knob)."""
    spark = edges.sparkSession
    dedges = truncate(edges.select("src", "dst").distinct())
    nodes = truncate(
        dedges.select(F.col("src").alias("id"))
        .unionByName(dedges.select(F.col("dst").alias("id")))
        .distinct()
    )
    assigned: list[DataFrame] = []
    remaining_n = nodes
    remaining_e = dedges
    n_left = remaining_n.count()
    for _ in range(max_rounds):
        if n_left == 0:
            break
        # TRIM: iteratively peel nodes with no in- or no out-edges in the
        # remaining subgraph — each is a singleton SCC
        for _ in range(trim_iters):
            has_in = remaining_e.select(F.col("dst").alias("id")).distinct()
            has_out = remaining_e.select(F.col("src").alias("id")).distinct()
            trimmed = truncate(
                remaining_n.join(has_in, "id", "left_anti")
                .unionByName(remaining_n.join(has_out, "id", "left_anti"))
                .distinct()
            )
            n_trim = trimmed.count()
            if n_trim == 0:
                release(trimmed)
                break
            assigned.append(trimmed.select("id", F.col("id").alias("scc")))
            old_n, old_e = remaining_n, remaining_e
            remaining_n = truncate(remaining_n.join(trimmed, "id", "left_anti"))
            remaining_e = truncate(
                remaining_e.join(
                    trimmed.withColumnRenamed("id", "src"), "src", "left_anti"
                ).join(trimmed.withColumnRenamed("id", "dst"), "dst", "left_anti")
            )
            release(old_n)
            release(old_e)
            n_left -= n_trim
        if n_left == 0:
            break
        fw = _min_reach_labels(remaining_e, remaining_n, True, max_iters)
        bw = _min_reach_labels(remaining_e, remaining_n, False, max_iters)
        done = truncate(
            fw.join(
                bw.withColumnRenamed("lab", "blab").hint("shuffle_hash"), "id"
            )
            .where(F.col("lab") == F.col("blab"))
            .select("id", F.col("lab").alias("scc"))
        )
        release(fw)
        release(bw)
        n_done = done.count()
        assigned.append(done)
        old_n, old_e = remaining_n, remaining_e
        remaining_n = truncate(remaining_n.join(done, "id", "left_anti"))
        remaining_e = truncate(
            remaining_e.join(
                done.select(F.col("id").alias("src")), "src", "left_anti"
            ).join(done.select(F.col("id").alias("dst")), "dst", "left_anti")
        )
        release(old_n)
        release(old_e)
        n_left -= n_done
    if n_left != 0:
        raise RuntimeError(
            f"strongly_connected_components: {n_left} nodes unassigned after "
            f"{max_rounds} rounds — raise max_rounds"
        )
    out = assigned[0]
    for part in assigned[1:]:
        out = out.unionByName(part)
    return out


def condensation(
    edges: DataFrame, scc: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(dag_edges, scc_labels): collapse each SCC to one node (label = min
    member id) and keep the distinct cross-SCC edges — the condensation DAG,
    the canonical acyclic view of a directed graph."""
    if scc is None:
        scc = strongly_connected_components(edges)
    ls = scc.select(F.col("id").alias("src"), F.col("scc").alias("c_src"))
    ld = scc.select(F.col("id").alias("dst"), F.col("scc").alias("c_dst"))
    dag = (
        edges.select("src", "dst")
        .join(ls.hint("shuffle_hash"), "src")
        .join(ld.hint("shuffle_hash"), "dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
    )
    return dag, scc


def condensation_levels(edges: DataFrame, max_iters: int = 100) -> DataFrame:
    """(scc, n_members, level) — level = LONGEST path from any source of the
    condensation DAG to the component (topological layering; level 0 =
    upstream feeders, max level = terminal sinks of the influence flow).

    Max-propagation supersteps on the DAG: lev(v) = max(lev(v), max over
    in-edges lev(u)+1); on an acyclic relation this is a fixpoint within
    depth supersteps (guaranteed because condensation is a DAG — the same
    recurrence on a cyclic graph would diverge). Each superstep is one
    equi-join + one max groupBy at condensation scale (≪ graph scale)."""
    dag, scc = condensation(edges)
    dag = truncate(dag)
    cnodes = truncate(scc.select(F.col("scc").alias("id")).distinct())
    moved: list[int] = []

    def step(state: DataFrame, i: int) -> DataFrame:
        upd = (
            dag.join(
                state.select(F.col("id").alias("src"), "lev").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("lev") + 1).alias("nlev"))
        )
        return (
            state.select("id", F.col("lev").alias("old_lev"))
            .join(upd.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.greatest(
                    F.col("old_lev"), F.coalesce("nlev", F.col("old_lev"))
                ).alias("lev"),
                "old_lev",
            )
        )

    def metrics(new: DataFrame) -> dict:
        m = new.agg(F.sum((F.col("lev") != F.col("old_lev")).cast("int")).alias("m"))
        return {"moved": m.first()["m"] or 0}

    def converged(m: dict) -> bool:
        moved.append(m["moved"])
        return m["moved"] == 0

    state = run_supersteps(
        cnodes.select("id", F.lit(0).cast("long").alias("lev")), step, metrics, converged,
        max_iters,
    )
    if not moved or moved[-1] != 0:
        raise RuntimeError(
            "condensation_levels: no fixpoint within max_iters — input "
            "edges are not a DAG after condensation (should be impossible)"
        )
    sizes = scc.groupBy("scc").agg(F.count("*").alias("n_members"))
    out = sizes.join(
        state.select(F.col("id").alias("scc"), F.col("lev").alias("level")),
        "scc",
    ).select("scc", "n_members", "level")
    return carry(out, state)


def _directed_reach(dedges: DataFrame, seeds: DataFrame, max_rounds: int = 100) -> DataFrame:
    """Set of node ids reachable from ``seeds`` (id) along directed edges,
    seeds included — frontier BFS to fixpoint: per round one hinted
    shuffle-hash join of the (shrinking) frontier against the edge table
    plus an anti-join against the visited set, both truncated. Converges in
    O(reachable-set diameter) rounds; raises if the budget is exhausted."""
    reached = truncate(seeds.select("id").distinct())
    frontier = reached
    for _ in range(max_rounds):
        nxt = truncate(
            dedges.join(
                frontier.select(F.col("id").alias("src")).hint("shuffle_hash"), "src"
            )
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(reached.hint("shuffle_hash"), "id", "left_anti")
        )
        if nxt.limit(1).count() == 0:
            return reached
        reached = truncate(reached.unionByName(nxt))
        frontier = nxt
    raise RuntimeError("_directed_reach: round budget exhausted before fixpoint")


def bowtie_classes(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Broder bow-tie decomposition of a directed graph (the classic
    web-link-graph macro structure): (id, klass) with klass in
    {'CORE', 'IN', 'OUT', 'OTHER'} — CORE = the largest SCC (ties broken by
    smallest label), OUT = reachable FROM the core (excluding it), IN =
    reaching the core, OTHER = tendrils/tubes/disconnected. IN and OUT are
    disjoint by construction (a node in both would be mutually reachable
    with the core, hence in it). Scale shape: one SCC run + two frontier
    BFS fixpoints (forward, backward) from the core set."""
    labels = truncate(strongly_connected_components(edges, max_iters=max_iters))
    top = (
        labels.groupBy("scc")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("scc"))
        .limit(1)
        .first()
    )
    core = labels.where(F.col("scc") == top["scc"]).select("id")
    dedges = truncate(edges.select("src", "dst").distinct())
    fwd = _directed_reach(dedges, core)
    bwd = _directed_reach(
        dedges.select(F.col("dst").alias("src"), F.col("src").alias("dst")), core
    )
    return (
        labels.select("id", "scc")
        .join(fwd.withColumn("f", F.lit(1)).hint("shuffle_hash"), "id", "left")
        .join(bwd.withColumn("b", F.lit(1)).hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            F.when(F.col("scc") == top["scc"], F.lit("CORE"))
            .when(F.col("f") == 1, F.lit("OUT"))
            .when(F.col("b") == 1, F.lit("IN"))
            .otherwise(F.lit("OTHER"))
            .alias("klass"),
        )
    )
