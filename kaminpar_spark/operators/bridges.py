"""Bridges and 2-edge-connected components (cut-edge decomposition).

The reference has no bridge finder (its connectivity surface is component
labeling, apps/tools/graph_tools.cc:91-126); this module adds the classic
parallel-connectivity bridge test re-expressed Spark-first:

1. ``connected_components`` -> comp (min id per component); the component
   roots are exactly the nodes with ``id == comp`` — no root list is ever
   collected or broadcast.
2. BFS levels from all roots in SHARED supersteps (paths.relax_step with the
   root indicator as the initial frontier).
3. parent(v) = min neighbor one level up -> a BFS spanning forest.
4. Every NON-tree edge gets two independent 31-bit polynomial-hash tags
   (functions.hashing streams — deterministic, reproducible in ANSI SQL).
5. acc(v) = XOR of the tags of v's incident non-tree edges; subtree XOR by
   peeling levels bottom-up. BFS levels make one sweep sufficient: all
   children of a level-L node sit exactly at L+1, so when level L is
   processed every deeper subtree is already final.
6. A tree edge (v, parent(v)) is a BRIDGE iff both subtree-XOR streams are
   zero: a non-tree edge with exactly ONE endpoint inside v's subtree
   survives the XOR (edges with both endpoints inside contribute their tag
   twice and cancel), and a surviving edge is precisely a cycle closing over
   the tree edge. False-bridge probability is 2^-62 per tree edge (two
   independent 31-bit streams) — the standard Monte-Carlo guarantee of the
   XOR-sketch connectivity literature, made DETERMINISTIC (same verdicts in
   every engine) by using seeded polynomial hashes instead of RNG.
7. 2-edge-connected components = connected components of the graph with the
   bridges removed.

Scale shape: steps 1-3 are the engine's standard O(diameter)-superstep
kernels (hash-min CC with pointer doubling, frontier BFS); step 5 is one
level-indexed sweep of groupBy-XOR + shuffle-hash join updates —
O(depth) supersteps over node-scale tables, no windows, no Python rows.
Non-tree tags and the final verdicts are pure JVM column math.

Semantics note: bridges of the SIMPLE graph (the engine's edge table
collapses parallel edges into a weight; a multi-edge pair is never a bridge
of the multigraph, so callers who ingested multiplicities as weights can
post-filter ``weight >= 2`` pairs if they want multigraph semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.functions.hashing import POLY_MULT2, POLY_MULT3, char_poly_hash
from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.components import connected_components
from kaminpar_spark.operators.paths import relax_step
from kaminpar_spark.plans.lineage import carry, release, truncate
from kaminpar_spark.plans.superstep import run_supersteps


def bfs_forest(
    graph: GraphFrame, max_hops: int = 32, cc: DataFrame | None = None
) -> DataFrame:
    """(id, comp, level, parent) — BFS spanning forest rooted at each
    component's min-id node (parent NULL at roots). Raises if any node is
    still unreached after ``max_hops`` supersteps (the forest would be
    truncated and every downstream verdict wrong)."""
    if cc is None:
        cc = connected_components(graph)
    init = cc.select(
        "id",
        "comp",
        F.when(F.col("id") == F.col("comp"), F.lit(0)).cast("long").alias("dist"),
        F.when(F.col("id") == F.col("comp"), F.lit(1)).otherwise(F.lit(0)).alias("changed"),
    )
    moved: list[int] = []

    def metrics(new: DataFrame) -> dict:
        return {"moved": new.agg(F.sum("changed")).first()[0] or 0}

    def converged(m: dict) -> bool:
        moved.append(m["moved"])
        return m["moved"] == 0

    state = run_supersteps(
        init, lambda s, i: relax_step(graph, s.select("id", "dist", "changed"), False),
        metrics, converged, max_hops,
    )
    if not moved or moved[-1] != 0:
        raise ValueError(f"bfs_forest: frontier still moving after max_hops={max_hops}")
    unreached = state.where(F.col("dist").isNull()).limit(1).count()
    if unreached:
        raise ValueError("bfs_forest: unreached nodes after convergence (bad cc input?)")
    levels = state.select("id", F.col("dist").alias("level"))
    # parent(v) = min neighbor exactly one level up (deterministic forest)
    dst_lev = levels.select(F.col("id").alias("dst"), F.col("level").alias("dst_level"))
    up = (
        graph.gather(levels, ["level"])
        .withColumnRenamed("level", "src_level")
        .join(dst_lev.hint("shuffle_hash"), "dst")
        .where(F.col("src_level") == F.col("dst_level") - 1)
        .groupBy("dst")
        .agg(F.min("src").alias("parent"))
        .select(F.col("dst").alias("id"), "parent")
    )
    out = (
        cc.select("id", "comp")
        .join(levels.withColumnRenamed("id", "_lid"), F.col("id") == F.col("_lid"))
        .join(up.withColumnRenamed("id", "_uid"), F.col("id") == F.col("_uid"), "left")
        .select("id", "comp", "level", "parent")
    )
    out = truncate(out)
    release(state)
    return out


def _edge_tags(a: F.Column, b: F.Column) -> tuple[F.Column, F.Column]:
    """Two independent deterministic 31-bit tags for the canonical edge."""
    key = F.concat_ws(",", a.cast("string"), b.cast("string"))
    return char_poly_hash(key, mult=POLY_MULT2), char_poly_hash(key, mult=POLY_MULT3)


def bridges(
    graph: GraphFrame, max_hops: int = 32, forest: DataFrame | None = None
) -> DataFrame:
    """(a, b) — canonical (a < b) bridge edges of the simple graph."""
    if forest is None:
        forest = bfs_forest(graph, max_hops=max_hops)
    canon = (
        graph.edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    tree = forest.where(F.col("parent").isNotNull()).select(
        F.least("id", "parent").alias("a"), F.greatest("id", "parent").alias("b")
    )
    nontree = canon.join(tree.hint("shuffle_hash"), ["a", "b"], "left_anti")
    t1, t2 = _edge_tags(F.col("a"), F.col("b"))
    tagged = nontree.select("a", "b", t1.alias("t1"), t2.alias("t2"))
    acc = (
        tagged.select(F.col("a").alias("id"), "t1", "t2")
        .unionByName(tagged.select(F.col("b").alias("id"), "t1", "t2"))
        .groupBy("id")
        .agg(F.bit_xor("t1").alias("x1"), F.bit_xor("t2").alias("x2"))
    )
    state = truncate(
        forest.join(acc.hint("shuffle_hash"), "id", "left").select(
            "id",
            "parent",
            "level",
            F.coalesce("x1", F.lit(0)).cast("long").alias("x1"),
            F.coalesce("x2", F.lit(0)).cast("long").alias("x2"),
        )
    )
    max_level = int(state.agg(F.max("level")).first()[0] or 0)

    # bottom-up peel: one sweep from the deepest level — every child of a
    # level-L node is exactly at L+1, so its subtree XOR is already final
    def step(s: DataFrame, i: int) -> DataFrame:
        contrib = (
            s.where(F.col("level") == max_level - i)
            .groupBy("parent")
            .agg(F.bit_xor("x1").alias("c1"), F.bit_xor("x2").alias("c2"))
            .withColumnRenamed("parent", "id")
        )
        return s.join(contrib.hint("shuffle_hash"), "id", "left").select(
            "id",
            "parent",
            "level",
            F.col("x1").bitwiseXOR(F.coalesce("c1", F.lit(0))).alias("x1"),
            F.col("x2").bitwiseXOR(F.coalesce("c2", F.lit(0))).alias("x2"),
        )

    state = run_supersteps(
        state, step, lambda new: {}, lambda m: False, max_level, truncate_init=False
    )
    out = state.where(
        F.col("parent").isNotNull() & (F.col("x1") == 0) & (F.col("x2") == 0)
    ).select(F.least("id", "parent").alias("a"), F.greatest("id", "parent").alias("b"))
    return carry(out, state)


def two_edge_components(graph: GraphFrame, max_hops: int = 32) -> DataFrame:
    """(id, tcomp) — 2-edge-connected component labels (min id per class):
    connected components of the graph with its bridges removed. Bridge
    endpoints isolated by the removal become singleton classes."""
    br = bridges(graph, max_hops=max_hops)
    both = br.unionByName(br.select(F.col("b").alias("a"), F.col("a").alias("b")))
    kept = graph.edges.join(
        both.select(F.col("a").alias("src"), F.col("b").alias("dst")).hint(
            "shuffle_hash"
        ),
        ["src", "dst"],
        "left_anti",
    )
    sub = GraphFrame(edges=kept, nodes=graph.nodes)
    return connected_components(sub).select("id", F.col("comp").alias("tcomp"))


def preorder_ranks(forest: DataFrame) -> DataFrame:
    """(id, pre) — global ranks order-isomorphic to a DFS preorder of the
    BFS forest: sort nodes by their root-path array (lexicographic; a prefix
    sorts before its extensions, so every subtree is a CONTIGUOUS rank
    interval starting at its root). The sort goes through ids.sorted_rank
    (range partitioning + per-partition windows), never a single-partition
    window; path arrays cost O(n * depth) — bounded by the BFS forest depth,
    O(log n) on the small-world graphs this engine targets."""
    from kaminpar_spark.ids import sorted_rank

    max_level = forest.agg(F.max("level")).first()[0] or 0
    cur = truncate(
        forest.where(F.col("level") == 0).select("id", F.array("id").alias("path"))
    )
    acc = [cur]
    for lvl in range(1, int(max_level) + 1):
        nxt = truncate(
            forest.where(F.col("level") == lvl)
            .select("id", "parent")
            .join(
                cur.select(F.col("id").alias("parent"), "path").hint("shuffle_hash"),
                "parent",
            )
            .select("id", F.concat("path", F.array("id")).alias("path"))
        )
        acc.append(nxt)
        cur = nxt
    paths = acc[0]
    for frame in acc[1:]:
        paths = paths.unionByName(frame)
    return sorted_rank(paths, ["path"], out="pre").select(
        "id", F.col("pre").cast("long").alias("pre")
    )


def _tv_block_labels(graph: GraphFrame, forest: DataFrame) -> DataFrame:
    """(id, bcomp) for every NON-ROOT vertex v: the biconnected-block label of
    v's tree edge (parent(v), v) — min vertex id over the block's tree-edge
    child endpoints.

    Tarjan–Vishkin (1985) auxiliary-graph biconnectivity, simplified by two
    BFS-forest invariants this module's forest guarantees:

    * no non-tree edge joins an ancestor–descendant pair (endpoints differ by
      <= 1 BFS level; a one-level NT edge's upper endpoint is, by parent =
      min-neighbor-one-level-up, never the lower endpoint's parent, hence not
      its ancestor), so the paper's ancestor rule never fires;
    * no non-tree edge touches a root (a root is the unique level-0 node of
      its tree, so every edge at a root is a tree edge).

    Remaining auxiliary-graph rules over tree edges (keyed by child endpoint):
      R1  every non-tree edge {v, w}: aux edge {v, w};
      R2  v with a non-root parent p: aux edge {v, p} iff low(v) < pre(p) or
          high(v) > maxpre(p) — some non-tree edge escapes subtree(p) from
          inside subtree(v), closing a cycle over both tree edges.
    Blocks = connected components of the auxiliary graph. low/high/maxpre are
    subtree min/max aggregates, computed in the same one-sweep bottom-up level
    peel as the bridge XOR — O(depth) supersteps, all JVM hash aggregates."""
    canon = (
        graph.edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    tree = forest.where(F.col("parent").isNotNull()).select(
        F.least("id", "parent").alias("a"), F.greatest("id", "parent").alias("b")
    )
    nontree = truncate(canon.join(tree.hint("shuffle_hash"), ["a", "b"], "left_anti"))
    pre = preorder_ranks(forest)
    pa = pre.select(F.col("id").alias("a"), F.col("pre").alias("pa"))
    pb = pre.select(F.col("id").alias("b"), F.col("pre").alias("pb"))
    npre = nontree.join(pa.hint("shuffle_hash"), "a").join(pb.hint("shuffle_hash"), "b")
    nbr = (
        npre.select(F.col("a").alias("id"), F.col("pb").alias("npre"))
        .unionByName(npre.select(F.col("b").alias("id"), F.col("pa").alias("npre")))
        .groupBy("id")
        .agg(F.min("npre").alias("mn"), F.max("npre").alias("mx"))
    )
    state = truncate(
        forest.join(pre.hint("shuffle_hash"), "id")
        .join(nbr.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            "parent",
            "level",
            "pre",
            F.least("pre", F.coalesce("mn", "pre")).alias("low"),
            F.greatest("pre", F.coalesce("mx", "pre")).alias("high"),
            F.col("pre").alias("maxpre"),
        )
    )
    max_level = int(state.agg(F.max("level")).first()[0] or 0)

    def step(s: DataFrame, i: int) -> DataFrame:
        contrib = (
            s.where(F.col("level") == max_level - i)
            .groupBy("parent")
            .agg(
                F.min("low").alias("clow"),
                F.max("high").alias("chigh"),
                F.max("maxpre").alias("cmax"),
            )
            .withColumnRenamed("parent", "id")
        )
        return s.join(contrib.hint("shuffle_hash"), "id", "left").select(
            "id",
            "parent",
            "level",
            "pre",
            F.least("low", F.coalesce("clow", "low")).alias("low"),
            F.greatest("high", F.coalesce("chigh", "high")).alias("high"),
            F.greatest("maxpre", F.coalesce("cmax", "maxpre")).alias("maxpre"),
        )

    state = run_supersteps(
        state, step, lambda new: {}, lambda m: False, max_level, truncate_init=False
    )
    parent_info = state.select(
        F.col("id").alias("parent"),
        F.col("pre").alias("ppre"),
        F.col("maxpre").alias("pmaxpre"),
        F.col("parent").alias("gparent"),
    )
    r2 = (
        state.where(F.col("parent").isNotNull())
        .join(parent_info.hint("shuffle_hash"), "parent")
        .where(
            F.col("gparent").isNotNull()
            & ((F.col("low") < F.col("ppre")) | (F.col("high") > F.col("pmaxpre")))
        )
        .select(
            F.least("id", "parent").alias("a"), F.greatest("id", "parent").alias("b")
        )
    )
    aux_nodes = forest.where(F.col("parent").isNotNull()).select("id")
    aux = GraphFrame.from_edge_pairs(
        nontree.select("a", "b").unionByName(r2).selectExpr(
            "a as src", "b as dst"
        ),
        nodes=aux_nodes,
    )
    return connected_components(aux).select("id", F.col("comp").alias("bcomp"))


def articulation_points(
    graph: GraphFrame, max_hops: int = 32, forest: DataFrame | None = None
) -> DataFrame:
    """(id) — cut vertices of the simple graph. A non-root v is a cut vertex
    iff some child's tree-edge block differs from v's own tree-edge block; a
    root iff its children's tree edges span >= 2 blocks."""
    if forest is None:
        forest = bfs_forest(graph, max_hops=max_hops)
    labels = _tv_block_labels(graph, forest)
    child = forest.where(F.col("parent").isNotNull()).select("id", "parent")
    cb = child.join(labels.hint("shuffle_hash"), "id").withColumnRenamed(
        "bcomp", "cblock"
    )
    pb = labels.select(F.col("id").alias("parent"), F.col("bcomp").alias("pblock"))
    grouped = (
        cb.join(pb.hint("shuffle_hash"), "parent", "left")
        .groupBy("parent")
        .agg(
            F.countDistinct("cblock").alias("nblocks"),
            F.max(
                (F.col("pblock").isNotNull() & (F.col("cblock") != F.col("pblock")))
                .cast("int")
            ).alias("mismatch"),
            F.max(F.col("pblock").isNull().cast("int")).alias("is_root"),
        )
    )
    return grouped.where(
        ((F.col("is_root") == 1) & (F.col("nblocks") >= 2))
        | ((F.col("is_root") == 0) & (F.col("mismatch") == 1))
    ).select(F.col("parent").alias("id"))


def biconnected_components(graph: GraphFrame, max_hops: int = 32) -> DataFrame:
    """(a, b, bcomp) — biconnected-block label per canonical edge: a tree edge
    (parent(v), v) carries v's block; a non-tree edge carries either
    endpoint's (equal by auxiliary rule R1). Bridges are singleton blocks."""
    forest = bfs_forest(graph, max_hops=max_hops)
    labels = _tv_block_labels(graph, forest)
    tree = forest.where(F.col("parent").isNotNull()).select(
        "id",
        F.least("id", "parent").alias("a"),
        F.greatest("id", "parent").alias("b"),
    )
    tree_lab = tree.join(labels.hint("shuffle_hash"), "id").select("a", "b", "bcomp")
    canon = (
        graph.edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    nontree = canon.join(
        tree.select("a", "b").hint("shuffle_hash"), ["a", "b"], "left_anti"
    )
    nt_lab = nontree.join(
        labels.select(F.col("id").alias("a"), "bcomp").hint("shuffle_hash"), "a"
    ).select("a", "b", "bcomp")
    return tree_lab.unionByName(nt_lab)
