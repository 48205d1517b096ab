"""Boruvka minimum spanning forest (link-graph weight backbone).

Reference parity note: KaMinPar itself has no MST tool, but Boruvka IS the
distributed sibling of its heavy-edge-matching coarsening kernel
(kaminpar/coarsening/cluster_coarsener.cc picks per-node best edges and
contracts) — the same per-group argmin + label-union superstep shape, run to
a global forest instead of one contraction level. On the transcript link
graph the MSF is the minimum-weight communication backbone (and with weights
negated, the maximum-spanning "strongest ties" skeleton used for graph
sparsification before expensive downstream analytics at 100 TB).

Algorithm (classic Boruvka, all DataFrame ops, no per-row Python):

  round r:
    1. cross edges   — attach component labels to both endpoints, keep
                       ``comp_src != comp_dst`` (one m-scale join each side,
                       shuffle-hash hinted; the edge table is symmetric so
                       every component sees all its outgoing edges).
    2. per-component argmin — ``min(struct(weight, a, b))`` where
                       a = least(src,dst), b = greatest(src,dst): the
                       deterministic lexicographic tie-break that makes the
                       forest unique even with duplicate weights (the same
                       trick as the HEM matching tie-break, matching.py).
    3. union         — the selected edges form a forest over components;
                       merge labels by hash-to-min + pointer doubling on the
                       component graph (n_comp-scale, shrinks geometrically).

Rounds halve the component count at minimum, so O(log n) rounds total.

Scale notes (100 TB): step 1 reuses the prepared graph's edge layout
(GraphFrame.gather semantics); step 2 is a map-side-combinable hash
aggregate keyed by component; step 3 never touches the m-scale edge table —
only the per-round selected forest (<= one edge per component). The label
table is truncated (plans.lineage) every round so planning cost stays flat.

``union_steps`` bounds the per-round label-union iterations: ``None`` runs
hash-to-min to convergence (library semantics — true Boruvka, always a
forest); a fixed int gives the deterministic bounded unroll the DuckDB
correctness oracle mirrors step for step. Caveat at scale: pointer doubling
covers merge-chain depth 2**steps, so with millions of components and a
small ``union_steps`` a round may end with partially-merged labels — later
rounds can then select edges inside an already-connected tree (cycles
possible; duplicate picks are removed by the cross-round dedup in
``boruvka_msf``). The bounded form is an oracle-parity kernel; use the
converged default for the true MSF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import release, truncate


def cross_min_edges(graph: GraphFrame, comp: DataFrame) -> DataFrame:
    """Per-component lexicographic-min cross edge (library entry point over a
    GraphFrame; the Boruvka loop uses _cross_and_pick to also keep the
    shrinking crossed-edge set)."""
    picked, _ = _cross_and_pick(
        graph.edges.select("src", "dst", "weight"), comp
    )
    return picked


def _cross_and_pick(
    edges: DataFrame, comp: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(picked, crossed): per-component lexicographic-min cross edge, plus
    the crossed-edge set itself (comp_src != comp_dst under CURRENT labels).

    ``picked`` is distinct (a, b, weight, ca, cb): canonical endpoints
    (a = least, b = greatest), edge weight, and the two component labels the
    edge bridges. Deterministic: min over struct(weight, a, b).

    ``crossed`` (src, dst, weight, comp_src, comp_dst) is MATERIALIZED
    (truncate) and is a superset of every future round's candidate set — an
    edge inside a component can never cross again — so the Boruvka driver
    feeds it forward and each round scans a geometrically shrinking table
    instead of the full m-scale input. Materializing it here also means the
    per-component argmin reads the checkpointed rows instead of re-evaluating
    the two m-scale label joins a second time."""
    cs = comp.select(F.col("id").alias("src"), F.col("comp").alias("comp_src"))
    cd = comp.select(F.col("id").alias("dst"), F.col("comp").alias("comp_dst"))
    e = truncate(
        edges.select("src", "dst", "weight")
        .join(cs.hint("shuffle_hash"), "src")
        .join(cd.hint("shuffle_hash"), "dst")
        .where(F.col("comp_src") != F.col("comp_dst"))
    )
    a = F.least("src", "dst")
    b = F.greatest("src", "dst")
    picked = (
        e.groupBy("comp_src")
        .agg(
            F.min(
                F.struct(
                    F.col("weight").alias("w"),
                    a.alias("a"),
                    b.alias("b"),
                    F.col("comp_src").alias("ca"),
                    F.col("comp_dst").alias("cb"),
                )
            ).alias("m")
        )
        .select(
            F.col("m.a").alias("a"),
            F.col("m.b").alias("b"),
            F.col("m.w").alias("weight"),
            F.col("m.ca").alias("ca"),
            F.col("m.cb").alias("cb"),
        )
    )
    # Two components may pick the same edge (each from its own side, with ca
    # and cb swapped); canonicalize the component pair BEFORE deduping so the
    # merge edge survives (min over both columns independently would collapse
    # it into a self-loop and the union would never fire).
    out = (
        picked.select(
            "a",
            "b",
            "weight",
            F.least("ca", "cb").alias("ca"),
            F.greatest("ca", "cb").alias("cb"),
        )
        .groupBy("a", "b", "weight")
        .agg(F.min("ca").alias("ca"), F.max("cb").alias("cb"))
    )
    return out, e


def _merge_labels(
    comps: DataFrame, sel: DataFrame, union_steps: int | None
) -> DataFrame:
    """Union-find over the per-round merge forest.

    ``comps``: (comp) distinct current labels. ``sel``: selected edges with
    (ca, cb). Returns (comp, label) with label = min comp reachable in the
    merge forest. Hash-to-min + pointer doubling; the merge graph has at most
    one edge per component so this is n_comp-scale work, never m-scale."""
    pairs = sel.select(F.col("ca").alias("u"), F.col("cb").alias("v")).union(
        sel.select(F.col("cb").alias("u"), F.col("ca").alias("v"))
    )
    state = comps.select(F.col("comp"), F.col("comp").alias("label"))
    chk: DataFrame | None = None  # previous step's truncated frame (for release)
    step = 0
    while True:
        nb = state.select(F.col("comp").alias("v"), F.col("label"))
        neigh_min = (
            pairs.join(nb.hint("shuffle_hash"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("u", "comp")
        )
        new = (
            state.withColumnRenamed("label", "old")
            .join(neigh_min.hint("shuffle_hash"), "comp", "left")
            .select(
                "comp",
                F.least(F.col("old"), F.coalesce("nmin", F.col("old"))).alias(
                    "label"
                ),
                "old",
            )
        )
        # pointer doubling: label' = label[label]
        lab = new.select(F.col("comp").alias("lc"), F.col("label").alias("ll"))
        new = (
            new.join(lab, new.label == lab.lc, "left")
            .select(
                "comp",
                F.coalesce("ll", "label").alias("label"),
                "old",
            )
        )
        step += 1
        # truncate EVERY step (both modes): the pointer-doubling self-join
        # references `new` twice, so without lineage truncation the logical
        # plan doubles per step — 2^steps growth that stalls Catalyst analysis
        # long before any data moves.
        new = truncate(new)
        release(chk)
        chk = new
        state = new.select("comp", "label")
        if union_steps is not None:
            if step >= union_steps:
                return state
            continue
        moved = new.agg(
            F.sum((F.col("label") != F.col("old")).cast("int")).alias("mv")
        ).first()["mv"]
        if not moved:
            return state


def boruvka_round(
    edges: DataFrame, comp: DataFrame, union_steps: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One Boruvka superstep over the current candidate edge set:
    (selected forest edges — materialized, updated comp labels, crossed
    candidate edges for the next round — materialized)."""
    sel, crossed = _cross_and_pick(edges, comp)
    # materialize the pick before the label union: every union step's
    # materialization re-reads it, and truncated it costs one scan instead of
    # re-running the per-component argmin aggregate each time
    sel = truncate(sel)
    comps = comp.select("comp").distinct()
    labels = _merge_labels(comps, sel, union_steps)
    new_comp = (
        comp.withColumnRenamed("comp", "c0")
        .join(
            labels.withColumnRenamed("comp", "c0").hint("shuffle_hash"),
            "c0",
            "left",
        )
        .select("id", F.coalesce("label", "c0").alias("comp"))
    )
    return sel.select("a", "b", "weight"), new_comp, crossed


def boruvka_msf(
    graph: GraphFrame,
    max_rounds: int = 30,
    union_steps: int | None = None,
    rounds: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Minimum spanning forest.

    Returns (msf_edges, comp): ``msf_edges`` = (a, b, weight, round) — the
    unique lexicographic-min forest; ``comp`` = (id, comp) final component
    labels (== connected components, since the MSF spans each component).

    ``rounds`` fixes the number of Boruvka rounds (deterministic bounded form
    for oracle parity); default runs until no cross edges remain.
    """
    comp = truncate(
        graph.nodes.select("id", F.col("id").alias("comp"))
    )
    edges = truncate(graph.edges.select("src", "dst", "weight"))
    out: list[DataFrame] = []
    n_rounds = rounds if rounds is not None else max_rounds
    for r in range(1, n_rounds + 1):
        sel, new_comp, crossed = boruvka_round(edges, comp, union_steps)
        if rounds is None and sel.limit(1).count() == 0:
            release(sel)
            break
        out.append(sel.withColumn("round", F.lit(r).cast("int")))
        new_comp = truncate(new_comp)
        # feed the (already materialized) crossed set forward: an
        # intra-component edge can never cross again, so round r+1 scans only
        # round r's cross edges (geometric decay) instead of the full m-scale
        # input
        release(comp)
        release(edges)
        comp, edges = new_comp, crossed
    spark = graph.edges.sparkSession
    if not out:
        empty = spark.createDataFrame(
            [], "a long, b long, weight long, round int"
        )
        return empty, comp
    forest = out[0]
    for df in out[1:]:
        forest = forest.union(df)
    # Dedup across rounds (keep the first pick): with a small ``union_steps``
    # a long merge chain may not converge inside one round, so a later round
    # can re-pick an edge whose endpoints already share a tree — at 9M
    # components the depth-4 coverage of 2 doubling steps is exceeded and
    # duplicates appear. Converged mode never produces them (the groupBy is
    # then a data no-op at forest scale).
    forest = forest.groupBy("a", "b", "weight").agg(
        F.min("round").alias("round")
    )
    return forest, comp


def msf_total_weight(msf_edges: DataFrame) -> int:
    """Exact int64 forest weight (hash-checkable)."""
    row = msf_edges.agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("w")).first()
    return int(row["w"])
