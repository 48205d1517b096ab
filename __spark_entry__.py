"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: transcript ETL -> graph -> PageRank top actors.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for each query.

The transcript input (BASELINE.json input_hint) is synthesized with **pure
integer arithmetic** (kaminpar_spark.sources.transcripts.synth_transcripts),
so the DuckDB oracle reproduces every row bit-for-bit: n_convs is tied to the
scale factor via ``count(orders)`` on both sides.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

N_AGENTS = 7
PR_ITERS = 5
CC_STEPS = 8


# --------------------------------------------------------------------- spark helpers
def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _n_convs(spark: SparkSession, sf_dir: str) -> int:
    return _load(spark, sf_dir, "orders").count()


_GRAPH_CACHE: dict[str, tuple] = {}


def _graph(spark: SparkSession, sf_dir: str):
    """Transcript graph for the driver queries, memoized per sf_dir — the
    driver runs every query in one process and each would otherwise redo the
    full ETL. Edges/nodes are materialized with truncated lineage."""
    if sf_dir in _GRAPH_CACHE:
        return _GRAPH_CACHE[sf_dir]
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.plans.lineage import truncate
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph

    n = _n_convs(spark, sf_dir)
    t = synth_transcripts(spark, n)
    g, amap = transcript_graph(t, n, stable_ids=True)
    g = GraphFrame(edges=truncate(g.edges), nodes=truncate(g.nodes))
    amap = truncate(amap)
    _GRAPH_CACHE[sf_dir] = (g, amap)
    return g, amap


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: transcripts -> edge table -> PageRank -> top actors."""
    from kaminpar_spark.operators.pagerank import pagerank

    sf_dir = "/root/testdata/sf0.001"
    g, amap = _graph(spark, sf_dir)
    pr = pagerank(g, tol=1e-8, max_iters=30)
    return (
        pr.join(amap, "id")
        .select("id", "actor", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"))
        .limit(100)
    )


# --------------------------------------------------------------------- spark queries
def _q_transcript_turns(spark, sf_dir):
    from kaminpar_spark.sources.transcripts import synth_transcripts

    return synth_transcripts(spark, _n_convs(spark, sf_dir))


def _q_transcript_edges(spark, sf_dir):
    g, _ = _graph(spark, sf_dir)
    return g.edges


def _q_conv_stats(spark, sf_dir):
    """Per-conversation session analytics (turn counts by role, distinct
    tools, duration, max inter-turn gap) — the transcripts-native rollup."""
    from kaminpar_spark.sources.transcripts import conversation_stats, synth_transcripts

    return conversation_stats(synth_transcripts(spark, _n_convs(spark, sf_dir)))


def _q_tool_transitions(spark, sf_dir):
    """Markov transition counts between consecutive tool turns per
    conversation (which tool follows which under stable turn ordering)."""
    from kaminpar_spark.sources.transcripts import synth_transcripts, tool_transitions

    return tool_transitions(synth_transcripts(spark, _n_convs(spark, sf_dir)))


def _q_degrees(spark, sf_dir):
    g, _ = _graph(spark, sf_dir)
    return g.degrees()


BFS_HOPS = 4


def _q_bfs_dist(spark, sf_dir):
    """Hop-bounded BFS levels from node 0 (frontier relaxation supersteps)."""
    from kaminpar_spark.operators.paths import bfs_levels

    g, _ = _graph(spark, sf_dir)
    return bfs_levels(g, [0], max_hops=BFS_HOPS)


def _q_sssp_dist(spark, sf_dir):
    """Bellman-Ford shortest path weight from node 0 over <= 4 edges."""
    from kaminpar_spark.operators.paths import sssp

    g, _ = _graph(spark, sf_dir)
    return sssp(g, [0], max_hops=BFS_HOPS)


HARMONIC_SRC_MOD = 1000  # sampled sources: id % 1000 == 0 (4 at sf0.01)
DIAM_HOPS = 8


def _q_diameter(spark, sf_dir):
    """Double-sweep diameter lower bound (two hop-bounded BFS passes;
    peripheral tie-broken to min id)."""
    from kaminpar_spark.operators.paths import double_sweep_diameter

    g, _ = _graph(spark, sf_dir)
    return double_sweep_diameter(g, start=0, max_hops=DIAM_HOPS)


def _q_butterflies(spark, sf_dir):
    """Bipartite butterfly count over the conv-actor incidence (4-cycle
    cohesion of actor co-participation; wedge join bounded per conversation)."""
    from kaminpar_spark.operators.bipartite import butterfly_count
    from kaminpar_spark.sources.transcripts import conv_actor_incidence, synth_transcripts

    n = _n_convs(spark, sf_dir)
    t = synth_transcripts(spark, n)
    return butterfly_count(conv_actor_incidence(t, n))


def _q_char_diversity(spark, sf_dir):
    """Gini-Simpson character diversity per document — transcendental-free
    entropy-class quality gate (exact integer moments, one division)."""
    from kaminpar_spark.functions.text import char_diversity

    return char_diversity(_load(spark, sf_dir, "documents"))


def _q_harmonic(spark, sf_dir):
    """Sampled harmonic centrality (4-hop, shared multi-source BFS
    supersteps; exact lcm-scaled integer accumulation -> one division)."""
    from kaminpar_spark.operators.paths import harmonic_centrality

    g, _ = _graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % HARMONIC_SRC_MOD == 0).select("id")
    return harmonic_centrality(g, srcs, max_hops=BFS_HOPS)


JP_ROUNDS = 6


def _q_luby_mis(spark, sf_dir):
    """Luby maximal independent set, 6 supersteps (1 in-set / -1 excluded /
    0 undecided; expected halving of the undecided set per round)."""
    from kaminpar_spark.operators.coloring import luby_mis

    g, _ = _graph(spark, sf_dir)
    return luby_mis(g, rounds=JP_ROUNDS)


HITS_ITERS = 3


def _q_hits(spark, sf_dir):
    """HITS hubs/authorities on the DIRECTED turn graph (who initiates ->
    who responds), 3 rounds, exact integer lattice scores (max-rescale by
    floor-division instead of L2 norm keeps every value cross-engine
    bit-exact)."""
    from kaminpar_spark.operators.hits import hits
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    return hits(edges, iters=HITS_ITERS)


def _q_salsa(spark, sf_dir):
    """Closed-form SALSA hubs/authorities on the DIRECTED turn graph
    (operators/hits.salsa): Lempel & Moran's structure theorem makes the
    stationary scores exact rationals — in-/out-degree share within each
    connected component of the bipartite support graph — so ONE CC run
    replaces the whole power iteration. Oracle: recursive-CTE component
    closure on the bipartite copies + degree-share joins."""
    from kaminpar_spark.operators.hits import salsa
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    return salsa(edges)


HEM_ROUNDS = 3


def _q_hem_matching(spark, sf_dir):
    """Heavy-edge matching, 3 locally-dominant supersteps (mate NULL while
    unmatched — round-bounded contract; fixpoint = maximal matching, the
    METIS-family coarsening kernel alongside the engine's LP clustering)."""
    from kaminpar_spark.operators.matching import heavy_edge_matching

    g, _ = _graph(spark, sf_dir)
    return heavy_edge_matching(g, rounds=HEM_ROUNDS)


def _q_jp_colors(spark, sf_dir):
    """Jones-Plassmann greedy coloring, 6 supersteps (hash priorities,
    smallest-absent-color; NULL = not yet scheduled, bfs_dist4 contract)."""
    from kaminpar_spark.operators.coloring import jp_color

    g, _ = _graph(spark, sf_dir)
    return jp_color(g, rounds=JP_ROUNDS)


WALK_LEN = 4
WALK_START_MOD = 29  # sampled starts: id % 29 == 0 (~130 walks at sf0.01)
WALK_WINDOW = 2


def _q_random_walks(spark, sf_dir):
    """Deterministic random walks (len 4) from hash-sampled starts: next hop
    is the neighbor minimizing an affine hash of (cur, walk, step, dst) —
    bit-reproducible embedding-prep sampling, one frontier join per step."""
    from kaminpar_spark.operators.walks import deterministic_walks

    g, _ = _graph(spark, sf_dir)
    starts = g.nodes.where(F.col("id") % WALK_START_MOD == 0).select("id")
    return deterministic_walks(g, starts, walk_len=WALK_LEN)


def _q_walk_contexts(spark, sf_dir):
    """Skip-gram co-occurrence pairs (window 2) over the deterministic walks
    — the DeepWalk context corpus for a downstream embedding trainer."""
    from kaminpar_spark.operators.walks import deterministic_walks, walk_contexts

    g, _ = _graph(spark, sf_dir)
    starts = g.nodes.where(F.col("id") % WALK_START_MOD == 0).select("id")
    return walk_contexts(deterministic_walks(g, starts, walk_len=WALK_LEN), window=WALK_WINDOW)


def _q_node2vec(spark, sf_dir):
    """Deterministic node2vec-style 2nd-order biased walks (p=4, q=2): the
    return hop is discouraged 4x, leaving the previous neighborhood 2x."""
    from kaminpar_spark.operators.walks import node2vec_walks

    g, _ = _graph(spark, sf_dir)
    starts = g.nodes.where(F.col("id") % WALK_START_MOD == 0).select("id")
    return node2vec_walks(g, starts, walk_len=WALK_LEN)


def _q_cooc_stats(spark, sf_dir):
    """Exact-integer PMI sufficient statistics over the walk-context corpus
    (n, marginals, total) — the embedding-trainer handoff kept integral so
    it stays cross-engine exact."""
    from kaminpar_spark.operators.walks import (
        cooccurrence_stats,
        deterministic_walks,
        walk_contexts,
    )

    g, _ = _graph(spark, sf_dir)
    starts = g.nodes.where(F.col("id") % WALK_START_MOD == 0).select("id")
    ctx = walk_contexts(deterministic_walks(g, starts, walk_len=WALK_LEN), window=WALK_WINDOW)
    return cooccurrence_stats(ctx)


def _q_conductance_mod4(spark, sf_dir):
    """Per-block conductance phi(S) = cut(S)/min(vol(S), 2m-vol(S)) of the
    id%4 partition — one pass over half-edges, hash aggregates only."""
    from kaminpar_spark.operators.metrics import block_conductance

    g, _ = _graph(spark, sf_dir)
    part = g.nodes.select("id", (F.col("id") % 4).cast("int").alias("block"))
    return block_conductance(g, part)


def _q_degree_buckets(spark, sf_dir):
    g, _ = _graph(spark, sf_dir)
    return g.degree_buckets()


def _q_pagerank5(spark, sf_dir):
    from kaminpar_spark.operators.pagerank import pagerank

    g, _ = _graph(spark, sf_dir)
    pr = pagerank(g, tol=0.0, max_iters=PR_ITERS)
    return pr.select("id", F.round("rank", 6).alias("rank"))


PR_WARM_A = 3  # supersteps on the stale (base) link set
PR_WARM_B = 2  # supersteps continued on the full graph from the warm seed


def _q_pagerank_warm(spark, sf_dir):
    """Warm-start PageRank across a snapshot update: PR_WARM_A fixed
    supersteps on the stale link set ((src+dst)%3 != 0 — symmetric subset,
    full node universe, so dropped-degree nodes become dangling and their
    mass is redistributed exactly as operators/pagerank.pagerank_step does),
    then the warm_start path (pagerank.init_ranks:26 — seed from old ranks,
    renormalize to unit mass) continues PR_WARM_B supersteps on the full
    graph. This is the production re-rank cadence at 10^12 turns: each
    ingest pays a few warm supersteps, never the cold iteration budget."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.pagerank import pagerank

    g, _ = _graph(spark, sf_dir)
    base = GraphFrame(
        edges=g.edges.where((F.col("src") + F.col("dst")) % 3 != 0), nodes=g.nodes
    )
    prev = pagerank(base, tol=0.0, max_iters=PR_WARM_A)
    pr = pagerank(g, tol=0.0, max_iters=PR_WARM_B, warm_start=prev)
    return pr.select("id", F.round("rank", 6).alias("rank"))


PPR_SOURCES = 3  # ids < 3 teleport set


def _q_ppr5(spark, sf_dir):
    """Personalized PageRank, PR_ITERS fixed supersteps, teleport set
    {0, 1, 2} (uniform reset)."""
    from kaminpar_spark.operators.pagerank import personalized_pagerank

    g, _ = _graph(spark, sf_dir)
    pr = personalized_pagerank(
        g, list(range(PPR_SOURCES)), tol=0.0, max_iters=PR_ITERS
    )
    return pr.select("id", F.round("rank", 6).alias("rank"))


def _q_lcc(spark, sf_dir):
    """Local clustering coefficient per node (degree-oriented wedge join)."""
    from kaminpar_spark.operators.triangles import local_clustering_coefficient

    g, _ = _graph(spark, sf_dir)
    return local_clustering_coefficient(g)


JACCARD_MIN_COMMON = 3
JACCARD_TOPK = 100


def _q_adjacency_jaccard(spark, sf_dir):
    """Top link-prediction candidates by adjacency-Jaccard (wedge join +
    degree join; deterministic (jaccard, u, w) ordering)."""
    from kaminpar_spark.operators.linkpred import adjacency_jaccard

    g, _ = _graph(spark, sf_dir)
    aj = adjacency_jaccard(g, min_common=JACCARD_MIN_COMMON)
    return aj.orderBy(F.desc("jaccard"), "u", "w").limit(JACCARD_TOPK)


RA_CAP = 64


def _q_resource_alloc(spark, sf_dir):
    """Top link-prediction candidates by Resource-Allocation index
    (Σ 1/deg(center) over common neighbors, exact on the ×2^20 integer
    lattice; deterministic (ra, u, w) ordering). Centers scan ~RA_CAP
    neighbors (hub-safe hash-threshold cap, arithmetic mixer,
    oracle-reproducible) — the uncapped wedge join is quadratic in hub
    degree and stalls at sf0.1."""
    from kaminpar_spark.operators.linkpred import resource_allocation

    g, _ = _graph(spark, sf_dir)
    ra = resource_allocation(
        g,
        min_common=JACCARD_MIN_COMMON,
        max_num_neighbors=RA_CAP,
        order_key=_cap_key_col(),
    )
    return ra.orderBy(F.desc("ra"), "u", "w").limit(JACCARD_TOPK)


def _q_assortativity(spark, sf_dir):
    """Degree assortativity: Pearson r of endpoint degrees over half-edges.
    Exact-integer moment sums (decimal(38,0)) + one IEEE expression — the
    determinism shape that makes a float metric hash-exact cross-engine."""
    from kaminpar_spark.operators.stats import degree_assortativity

    g, _ = _graph(spark, sf_dir)
    return degree_assortativity(g)


TRUSS_K = 5  # support >= 3 peels ~500 of 29k edges at sf0.01 (max support 2072)


def _q_truss_edges(spark, sf_dir):
    """One k-truss peel round (k=TRUSS_K): undirected edges whose triangle
    support (oriented-triangle explode + hash count) is >= k-2."""
    from kaminpar_spark.operators.triangles import truss_edges

    g, _ = _graph(spark, sf_dir)
    return truss_edges(g, TRUSS_K)


def _q_graph_summary(spark, sf_dir):
    """graph_statistics tool surface as one exact row (A8): node/edge counts,
    degree min/max/mean/exact-median, density."""
    g, _ = _graph(spark, sf_dir)
    deg = g.degrees()
    n = F.count("*")
    sd = F.sum("degree")
    return deg.agg(
        n.cast("long").alias("n_nodes"),
        F.expr("sum(degree) div 2").alias("n_edges"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
        F.round(sd / n, 6).alias("avg_degree"),
        F.round(F.expr("percentile(degree, 0.5)"), 6).alias("median_degree"),
        F.round(sd / n / (n - F.lit(1)), 6).alias("density"),
    )


def _q_lpa_modularity(spark, sf_dir):
    """Modularity of the step-1 LP labels (community-quality metric)."""
    from kaminpar_spark.operators.labelprop import lp_step
    from kaminpar_spark.operators.metrics import modularity

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    labels = lp_step(g, state, semi_sync=False).select("id", "label")
    q = modularity(g, labels)
    return spark.createDataFrame([(round(q, 6),)], "modularity double")


def _q_cc(spark, sf_dir):
    from kaminpar_spark.operators.components import connected_components

    g, _ = _graph(spark, sf_dir)
    return connected_components(g, max_iters=CC_STEPS, two_phase=True)


def _q_cc_incremental(spark, sf_dir):
    """Snapshot-incremental CC: converge hash-to-min on a deterministic
    2/3-ish base edge subset ((src+dst)%3 != 0 — symmetric, so the half-edge
    invariant holds), then continue on the FULL graph warm-started from those
    labels (components.connected_components init_labels). Hash-to-min is
    monotone, so the warm run must land on the identical min-id fixpoint as
    a cold full recompute — the oracle is the plain full-graph CC chain.
    This is the 10^12-turn operating mode: per snapshot delta you pay
    O(diameter of the changed region) supersteps, not a full recompute."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.components import connected_components

    g, _ = _graph(spark, sf_dir)
    base = GraphFrame(
        edges=g.edges.where((F.col("src") + F.col("dst")) % 3 != 0), nodes=g.nodes
    )
    prev = connected_components(base, max_iters=CC_STEPS, two_phase=True)
    return connected_components(
        g, max_iters=CC_STEPS, two_phase=True, init_labels=prev
    )


def _q_component_sizes(spark, sf_dir):
    """Component size distribution: (size, n_components) — the giant-component
    sanity view every link-graph pipeline reads first."""
    from kaminpar_spark.operators.components import connected_components

    g, _ = _graph(spark, sf_dir)
    cc = connected_components(g, max_iters=CC_STEPS, two_phase=True)
    return (
        cc.groupBy("comp")
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n_components"))
    )


def _q_digraph_stats(spark, sf_dir):
    """Directed turn-graph stats: reciprocity (share of directed edges whose
    reverse also exists) + edge/node counts — one row, all exact."""
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_edges = edges.count()
    n_recip = edges.join(rev, ["src", "dst"], "left_semi").count()
    return edges.sparkSession.createDataFrame(
        [(n_edges, n_recip)], "n_edges long, n_reciprocal long"
    ).select(
        "n_edges",
        "n_reciprocal",
        (F.col("n_reciprocal") / F.col("n_edges")).alias("reciprocity"),
    )


def _q_role_assortativity(spark, sf_dir):
    """Newman nominal assortativity over actor TYPES (user/agent/tool — the
    prefix of the actor key): r = (m*Σc_ii - Σ row_i*col_i) / (m² - Σ
    row_i*col_i) over weighted half-edge type-pair counts. All counting is
    exact int64 (m < 3e9 keeps m² in range); ONE final IEEE division,
    round(6). Two n-scale type joins + a 9-row mixing matrix — trivially
    100 TB-shaped."""
    g, amap = _graph(spark, sf_dir)
    typ = amap.select("id", F.split("actor", "_").getItem(0).alias("t"))
    e = (
        g.edges.join(
            typ.select(F.col("id").alias("src"), F.col("t").alias("ts")).hint("shuffle_hash"),
            "src",
        )
        .join(
            typ.select(F.col("id").alias("dst"), F.col("t").alias("td")).hint("shuffle_hash"),
            "dst",
        )
        .groupBy("ts", "td")
        .agg(F.sum("weight").alias("c"))
    )
    mix = e.collect()  # <= |types|^2 = 9 rows by construction
    m = sum(r["c"] for r in mix)
    diag = sum(r["c"] for r in mix if r["ts"] == r["td"])
    row = {}
    col = {}
    for r in mix:
        row[r["ts"]] = row.get(r["ts"], 0) + r["c"]
        col[r["td"]] = col.get(r["td"], 0) + r["c"]
    ab = sum(row[t] * col.get(t, 0) for t in row)
    r_val = float(m * diag - ab) / float(m * m - ab)
    return spark.createDataFrame(
        [(m, diag, r_val)],
        "total_weight long, same_type_weight long, assortativity double",
    ).select(
        "total_weight",
        "same_type_weight",
        F.round("assortativity", 6).alias("assortativity"),
    )


def _q_triangle_count(spark, sf_dir):
    from kaminpar_spark.operators.triangles import triangle_count

    g, _ = _graph(spark, sf_dir)
    n = triangle_count(g)
    return spark.createDataFrame([(n,)], "triangles long")


def _q_lp_step1(spark, sf_dir):
    from kaminpar_spark.operators.labelprop import lp_step

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    new = lp_step(g, state, semi_sync=False)
    return new.select("id", "label")


def _q_triangles_incremental(spark, sf_dir):
    """Snapshot-incremental triangles: delta = the (src+dst)%3 == 0 edge
    subset arriving on top of the base snapshot; the engine computes
    tri_delta from three delta-anchored wedge joins
    (operators/triangles.incremental_triangle_count) — never a full wedge
    recount — and tri_old equals the previous snapshot's cached count by
    orientation invariance. Oracle: two independent oriented counts
    (base subset, full graph); tri_delta is their difference."""
    from kaminpar_spark.operators.triangles import incremental_triangle_count

    g, _ = _graph(spark, sf_dir)
    delta = g.edges.where((F.col("src") + F.col("dst")) % 3 == 0).select("src", "dst")
    return incremental_triangle_count(g, delta)


LPA_WARM_A = 2  # synchronous LP steps on the stale (base) link set
LPA_WARM_B = 1  # steps continued on the full graph from the warm labels


def _q_lpa_warm(spark, sf_dir):
    """Warm-start LPA across a snapshot update: LPA_WARM_A synchronous
    lp_step supersteps (community config, semi_sync=False so the schedule is
    oracle-reproducible — xxhash64 tie-breaking is engine-local) on the
    stale symmetric edge subset ((src+dst)%3 != 0), then LPA_WARM_B more on
    the full graph seeded from those labels. Completes the snapshot-
    incremental triple (pagerank_warm, cc_incremental, lpa_warm): at 10^12
    turns each ingest refines standing communities instead of re-clustering
    from singletons. Integer scores make every argmax tie cross-engine
    deterministic."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.labelprop import lp_step
    from kaminpar_spark.plans.lineage import truncate

    g, _ = _graph(spark, sf_dir)
    base = GraphFrame(
        edges=g.edges.where((F.col("src") + F.col("dst")) % 3 != 0), nodes=g.nodes
    )
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    for _ in range(LPA_WARM_A):
        state = truncate(lp_step(base, state, semi_sync=False).select("id", "label", "weight"))
    for _ in range(LPA_WARM_B):
        state = truncate(lp_step(g, state, semi_sync=False).select("id", "label", "weight"))
    return state.select("id", "label")


def _q_edge_cut_mod4(spark, sf_dir):
    from kaminpar_spark.operators import metrics

    g, _ = _graph(spark, sf_dir)
    part = g.nodes.select("id", (F.col("id") % 4).cast("int").alias("block"))
    cut = metrics.edge_cut(g, part)
    return spark.createDataFrame([(cut,)], "cut long")


def _q_comm_volume_mod4(spark, sf_dir):
    """Per-block communication volume of the id%4 partition (operators/
    metrics.comm_volume) — the superstep send-traffic objective that
    edge-cut under-approximates."""
    from kaminpar_spark.operators.metrics import comm_volume

    g, _ = _graph(spark, sf_dir)
    part = g.nodes.select("id", (F.col("id") % 4).cast("int").alias("block"))
    return comm_volume(g, part)


def _q_block_weights_mod4(spark, sf_dir):
    from kaminpar_spark.operators import metrics

    g, _ = _graph(spark, sf_dir)
    part = g.nodes.select("id", (F.col("id") % 4).cast("int").alias("block"))
    return metrics.block_weights(g, part).select(
        "block", F.col("block_weight").cast("long").alias("block_weight")
    )


def _q_dedup_exact(spark, sf_dir):
    from kaminpar_spark.functions.dedup import exact_dedup_groups

    return exact_dedup_groups(_load(spark, sf_dir, "documents"))


def _q_token_counts(spark, sf_dir):
    from kaminpar_spark.functions.text import token_counts

    return token_counts(_load(spark, sf_dir, "documents"))


def _q_text_quality(spark, sf_dir):
    from kaminpar_spark.functions.text import quality_scores

    return quality_scores(_load(spark, sf_dir, "documents"))


def _q_embedding_topk(spark, sf_dir):
    from kaminpar_spark.functions.similarity import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10)


def _q_event_props(spark, sf_dir):
    """Semi-structured column handling: extract props.k from the JSON string
    column (JVM get_json_object), aggregate per event type — covers the
    JSON-function axis of the events table."""
    ev = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"), "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def _q_funnel(spark, sf_dir):
    """Ordered funnel view -> click -> purchase by first occurrence per user:
    (n_view, n_view_click, n_full) — the classic event-analytics rollup, pure
    min-ts aggregates + ordering predicates."""
    ev = _load(spark, sf_dir, "events")
    firsts = (
        ev.where(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.min("ts"))
    )
    return firsts.agg(
        F.sum(F.when(F.col("view").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(
            F.when(
                F.col("view").isNotNull()
                & F.col("click").isNotNull()
                & (F.col("click") > F.col("view")),
                1,
            ).otherwise(0)
        ).alias("n_view_click"),
        F.sum(
            F.when(
                F.col("view").isNotNull()
                & F.col("click").isNotNull()
                & (F.col("click") > F.col("view"))
                & F.col("purchase").isNotNull()
                & (F.col("purchase") > F.col("click")),
                1,
            ).otherwise(0)
        ).alias("n_full"),
    )


def _q_windowed_events(spark, sf_dir):
    from kaminpar_spark.streaming.ingest import windowed_event_counts

    return windowed_event_counts(_load(spark, sf_dir, "events"), "1 hour")


def _q_sessionized_events(spark, sf_dir):
    from kaminpar_spark.streaming.ingest import sessionize_events

    s = sessionize_events(_load(spark, sf_dir, "events"), "30 minutes")
    return s.select("user_id", "session_start", "n_events", "sum_value")


VCUT_K = 16
VCUT_HUB = 32


def _q_vertex_cut(spark, sf_dir):
    """Vertex-cut edge-partitioner evaluation (plans/edge_partition): the
    PowerGraph replication-factor objective for src/dst/grid/hybrid hash
    placement at k=VCUT_K over the transcript graph's unique edges."""
    from kaminpar_spark.plans.edge_partition import edge_partition_eval

    g, _ = _graph(spark, sf_dir)
    return edge_partition_eval(g, k=VCUT_K, hub_threshold=VCUT_HUB)


BW_HOPS = 6


def _q_bandwidth_orders(spark, sf_dir):
    """Adjacency-bandwidth / profile comparison of identity vs
    degree-descending vs BFS-level node orderings (operators/reorder.
    ordering_comparison) — the CSR-block locality objective."""
    from kaminpar_spark.operators.reorder import ordering_comparison

    g, _ = _graph(spark, sf_dir)
    return ordering_comparison(g, bfs_source=0, bfs_hops=BW_HOPS)


SAGE_FANOUTS = (3, 2)
SAGE_SEED = 11


def _q_sage_sample(spark, sf_dir):
    """Two-layer GraphSAGE neighbor sampling (fanouts 3,2) from the id%37
    root set — deterministic argmin draws, dedup'd frontier
    (operators/gnn.sage_sample)."""
    from kaminpar_spark.operators.gnn import sage_sample

    g, _ = _graph(spark, sf_dir)
    roots = g.nodes.where(F.col("id") % 37 == 0).select("id")
    return sage_sample(g, roots, fanouts=SAGE_FANOUTS, seed=SAGE_SEED)


KCORE_K = 9
KCORE_ROUNDS = 8


def _q_kcore_peel8(spark, sf_dir):
    """Exactly KCORE_ROUNDS peel rounds (k=KCORE_K) — fixed-round form so the
    unrolled SQL oracle matches bit-for-bit regardless of convergence depth."""
    from kaminpar_spark.plans.lineage import truncate

    g, _ = _graph(spark, sf_dir)
    edges = g.edges
    for _ in range(KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count("*").alias("d"))
        victims = deg.where(F.col("d") < KCORE_K).select("src")
        edges = truncate(
            edges.join(victims, "src", "left_anti")
            .join(victims.withColumnRenamed("src", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
        )
    return edges.select(F.col("src").alias("id")).distinct()


ONION_ROUNDS = 6


def _q_onion_layers(spark, sf_dir):
    """Onion decomposition: ONION_ROUNDS ratcheting peel passes, each node
    stamped with its removal layer and the core threshold at removal
    (operators/kcore.onion_layers; fixed rounds for oracle lockstep)."""
    from kaminpar_spark.operators.kcore import onion_layers

    g, _ = _graph(spark, sf_dir)
    return onion_layers(g, ONION_ROUNDS)


SCORE_S = 19


def _q_score_peel8(spark, sf_dir):
    """Weighted s-core: KCORE_ROUNDS peel rounds removing nodes with
    WEIGHTED degree < SCORE_S (the strength-core of weighted-network
    analysis; same fixed-round oracle-lockstep form as kcore_peel8, kernel
    operators/kcore.k_core_members(weighted=True))."""
    from kaminpar_spark.plans.lineage import truncate

    g, _ = _graph(spark, sf_dir)
    edges = g.edges
    for _ in range(KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.sum("weight").alias("d"))
        victims = deg.where(F.col("d") < SCORE_S).select("src")
        edges = truncate(
            edges.join(victims, "src", "left_anti")
            .join(victims.withColumnRenamed("src", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
        )
    return edges.select(F.col("src").alias("id")).distinct()


LP_CAP = 8


def _q_lp_capped_step(spark, sf_dir):
    """One size-constrained LP superstep (soft cap via gain-ordered windowed
    admission) from singleton labels — the coarsening kernel's admission
    logic under oracle parity."""
    from kaminpar_spark.operators.labelprop import lp_step

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    new = lp_step(g, state, max_cluster_weight=LP_CAP, semi_sync=False)
    return new.select("id", "label")


def _q_contraction_edges(spark, sf_dir):
    """Coarse edge table after contracting the lp_step1 clustering (stable
    dense ids) — SURVEY A1/A6/J3 under oracle parity."""
    from kaminpar_spark.operators.contraction import contract
    from kaminpar_spark.operators.labelprop import lp_step

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    clustering = lp_step(g, state, semi_sync=False).select(
        "id", F.col("label").alias("cluster")
    )
    res = contract(g, clustering, stable_ids=True)
    return res.coarse.edges


def _q_contraction_nodes(spark, sf_dir):
    from kaminpar_spark.operators.contraction import contract
    from kaminpar_spark.operators.labelprop import lp_step

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    clustering = lp_step(g, state, semi_sync=False).select(
        "id", F.col("label").alias("cluster")
    )
    res = contract(g, clustering, stable_ids=True)
    return res.coarse.nodes


def _q_pagerank_weighted5(spark, sf_dir):
    from kaminpar_spark.operators.pagerank import pagerank

    g, _ = _graph(spark, sf_dir)
    pr = pagerank(g, tol=0.0, max_iters=PR_ITERS, weighted=True)
    return pr.select("id", F.round("rank", 6).alias("rank"))


PR_HALF_LIFE_S = 3600
PR_MAX_OCT = 16


def _q_pagerank_recency(spark, sf_dir):
    """Recency-decayed weighted PageRank: edge weights halve per half-life
    octave of link age (exact dyadic int64 weights, sources/transcripts.
    decayed_transcript_edges), then PR_ITERS weighted supersteps — 'who is
    central NOW', the freshness-aware variant of pagerank_weighted5."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.pagerank import pagerank
    from kaminpar_spark.plans.lineage import truncate
    from kaminpar_spark.sources.transcripts import decayed_transcript_edges, synth_transcripts

    g, amap = _graph(spark, sf_dir)
    t = synth_transcripts(spark, _n_convs(spark, sf_dir))
    e = decayed_transcript_edges(
        t, _n_convs(spark, sf_dir), amap,
        half_life_s=PR_HALF_LIFE_S, max_octaves=PR_MAX_OCT,
    )
    gd = GraphFrame(edges=truncate(e), nodes=g.nodes)
    pr = pagerank(gd, tol=0.0, max_iters=PR_ITERS, weighted=True)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def _q_language_id(spark, sf_dir):
    from kaminpar_spark.functions.text import language_id

    return language_id(_load(spark, sf_dir, "documents"))


def _q_bpe_tokens(spark, sf_dir):
    from kaminpar_spark.functions.text import bpe_ish_token_counts

    return bpe_ish_token_counts(_load(spark, sf_dir, "documents"))


def _q_ngram_jaccard(spark, sf_dir):
    from kaminpar_spark.functions.dedup import ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---- sketch family (cross-engine polynomial hashes -> full oracles) ----
MINHASH_K = 32
MINHASH_BANDS = 8
MINHASH_THRESH = 0.7
GROUP_SPLIT_TEST = 0.2  # group_split: test share over near-dup clusters
CONTAIN_THRESH = 0.5  # ngram_containment: |A∩B|/min(|A|,|B|) cutoff
CONTAIN_DF_CAP = 20  # ngram_containment: rare-shingle candidate df bound
SIMHASH_MAXHAM = 8
SIMHASH_MAX_BUCKET = 10_000  # per-(band,bucket) size guard; never binds at sf0.01
LSH_PLANES = 8
LSH_TABLES = 8  # independent hash tables (candidate union tunes recall)
LSH_PROBE_FLIPS = 6  # multi-probe: flip the 6 least-confident bits per table
EMB_DIM = 64
CORE_ROUNDS = 4


def _q_minhash_near_dups(spark, sf_dir):
    from kaminpar_spark.functions.dedup import minhash_dedup_pairs

    docs = _load(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, threshold=MINHASH_THRESH, num_hashes=MINHASH_K, bands=MINHASH_BANDS
    )


def _q_minhash_calibration(spark, sf_dir):
    """Dedup-threshold calibration: exact-Jaccard histogram (20 integer
    buckets) + summed MinHash match counts over the LSH candidate pairs
    (functions/dedup.minhash_calibration_hist)."""
    from kaminpar_spark.functions.dedup import minhash_calibration_hist

    docs = _load(spark, sf_dir, "documents")
    return minhash_calibration_hist(
        docs, num_hashes=MINHASH_K, bands=MINHASH_BANDS
    )


def _q_minhash_ingest(spark, sf_dir):
    """Incremental dedup ingest: the doc_id%3==0 shard arrives on top of the
    standing corpus; only pairs touching the shard are computed (the shard's
    banded keys broadcast into the corpus LSH index — functions/dedup.
    minhash_ingest_pairs). Oracle: the full near-dup pair set filtered to
    pairs with >=1 new id, which the restricted join provably equals."""
    from kaminpar_spark.functions.dedup import minhash_ingest_pairs

    docs = _load(spark, sf_dir, "documents")
    return minhash_ingest_pairs(
        docs.where(F.col("doc_id") % 3 != 0),
        docs.where(F.col("doc_id") % 3 == 0),
        threshold=MINHASH_THRESH,
        num_hashes=MINHASH_K,
        bands=MINHASH_BANDS,
    )


def _q_simhash_near_dups(spark, sf_dir):
    """124-bit SimHash near-dup pairs at max_hamming=8: 9 covering bands of
    >=13 bits each (>=8192 buckets/band — the 62-bit sketch's <=128-bucket
    bands were the r2 scale-killer), with the oversized-bucket guard armed
    (it never binds at sf0.01, so the unguarded oracle is value-identical)."""
    from kaminpar_spark.functions.dedup import simhash128, simhash128_near_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = simhash128_near_pairs(
        simhash128(docs), max_hamming=SIMHASH_MAXHAM, max_bucket_size=SIMHASH_MAX_BUCKET
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _q_lsh_topk(spark, sf_dir):
    from kaminpar_spark.functions.similarity import lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=10,
        num_planes=LSH_PLANES,
        dim=EMB_DIM,
        probe_flips=LSH_PROBE_FLIPS,
        num_tables=LSH_TABLES,
    )


IVF_CENTROIDS = 16
IVF_NPROBE = 4


PQ_CODES = 128
PQ_M = 8


def _q_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-k (functions/similarity.pq_topk): m=8
    subspace codebooks from a deterministic sample, asymmetric distance
    computation on an exact int64 lattice."""
    from kaminpar_spark.functions.similarity import pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.where(F.col("vec_id") < 5), k=10,
        num_codes=PQ_CODES, m=PQ_M, dim=EMB_DIM,
    )


def _q_ivf_topk(spark, sf_dir):
    """IVF-flat ANN top-k: nearest-sampled-centroid binning + nprobe cell
    probe + exact cosine on candidates (the non-LSH scale path)."""
    from kaminpar_spark.functions.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=10,
        num_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


def _recall_df(exact, approx):
    """Single-row (recall_at_10): fraction of exact top-k pairs the
    approximate path recovers. Both sides are deterministic (rounded cosine,
    nn_id tie-break), so the value is exactly reproducible in SQL."""
    n_hit = exact.join(approx, ["qid", "nn_id"], "left_semi").agg(
        F.count("*").alias("n_hit")
    )
    n_tot = exact.agg(F.count("*").alias("n_tot"))
    return n_hit.crossJoin(n_tot).select(
        F.round(F.col("n_hit") / F.col("n_tot"), 6).alias("recall_at_10")
    )


def _q_lsh_recall(spark, sf_dir):
    """Recall@10 of single-probe hyperplane LSH vs the exact brute-force
    ground truth (VERDICT r2 item 8 — make the approximation error a measured,
    oracle-checked number instead of a footnote)."""
    from kaminpar_spark.functions.similarity import brute_force_topk, lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=10).select("qid", "nn_id")
    approx = lsh_topk(
        emb, q, k=10, num_planes=LSH_PLANES, dim=EMB_DIM,
        probe_flips=LSH_PROBE_FLIPS, num_tables=LSH_TABLES,
    ).select("qid", "nn_id")
    return _recall_df(exact, approx)


def _q_ivf_recall(spark, sf_dir):
    """Recall@10 of IVF-flat (nprobe cells) vs exact brute force."""
    from kaminpar_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=10).select("qid", "nn_id")
    approx = ivf_topk(
        emb, q, k=10, num_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE
    ).select("qid", "nn_id")
    return _recall_df(exact, approx)


PQ_RERANK = 100


def _q_pq_recall(spark, sf_dir):
    """Recall@10 of the production PQ shape — ADC candidate generation +
    exact-cosine rerank of the top-PQ_RERANK — vs exact brute force (pure
    ADC is a compressor, not a ranker: measured 0.38 alone at 128 codes x
    8 subspaces; the rerank pair recovers 1.00 at sf0.01)."""
    from kaminpar_spark.functions.similarity import brute_force_topk, pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=10).select("qid", "nn_id")
    approx = pq_topk(
        emb, q, k=10, num_codes=PQ_CODES, m=PQ_M, dim=EMB_DIM, rerank=PQ_RERANK
    ).select("qid", "nn_id")
    return _recall_df(exact, approx)


KMV_K = 256


def _q_kmv_shingles(spark, sf_dir):
    """KMV distinct-cardinality sketch of corpus 3-gram shingles (k=256,
    ~16k true distinct at sf0.01), alongside the exact distinct count — the
    estimate itself is deterministic (portable hash + exactly-rounded
    division), so the oracle checks the ESTIMATE, not a tolerance band."""
    from kaminpar_spark.functions.sketches import kmv_distinct

    docs = _load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
    g = docs.select(F.explode(grams).alias("gram")).where(F.col("gram") != "")
    est = kmv_distinct(g, "gram", k=KMV_K)
    exact = g.agg(F.count_distinct("gram").alias("exact_distinct"))
    return est.crossJoin(exact)


HLL_P = 8


def _q_hll_shingles(spark, sf_dir):
    """Raw HyperLogLog distinct estimate (m=256 registers) of the SAME
    3-gram shingle stream as kmv_shingles, next to the exact distinct count.
    Register index, rank proxy (lowest set bit of the remainder) and the
    harmonic denominator (a sum of dyadic rationals, exact in IEEE double)
    are all cross-engine exact, so the oracle checks the ESTIMATE itself —
    same reference analog as KMV (sampled statistics,
    apps/tools/graph_statistics.cc:133-153), different sketch family:
    constant 2**p-register state vs KMV's k-row top-k."""
    from kaminpar_spark.functions.sketches import hll_distinct

    docs = _load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
    g = docs.select(F.explode(grams).alias("gram")).where(F.col("gram") != "")
    est = hll_distinct(g, "gram", p=HLL_P)
    exact = g.agg(F.count_distinct("gram").alias("exact_distinct"))
    return est.crossJoin(exact)


CMS_DEPTH = 4
CMS_WIDTH = 64  # narrow on purpose at bench scale so overcount is exercised
CMS_TOP = 20


def _q_cms_tokens(spark, sf_dir):
    """Count-Min sketch heavy hitters: exact top-20 corpus tokens with their
    CMS point estimates (depth=4, width=64 — narrow so collisions actually
    happen at sf0.01) and the one-sided overcount. All-integer cell sums +
    min over rows reproduce exactly in SQL."""
    from kaminpar_spark.functions.sketches import cms_heavy_hitters

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    return cms_heavy_hitters(
        toks, "tok", depth=CMS_DEPTH, width=CMS_WIDTH, top=CMS_TOP
    ).select(F.col("val").alias("token"), "exact_count", "cms_count", "overcount")


DUP_WINDOW = 8


def _q_strip_dup_spans(spark, sf_dir):
    """Boilerplate-span scrub: rewrite each document with every cross-doc
    repeated 8-token window removed (functions/dedup.strip_dup_spans)."""
    from kaminpar_spark.functions.dedup import strip_dup_spans

    return strip_dup_spans(_load(spark, sf_dir, "documents"), window=DUP_WINDOW)


def _q_dup_windows(spark, sf_dir):
    """Cross-document repeated token-window stats (exact substring
    repetition, window=8): per-doc share of sliding windows that also occur
    in another document."""
    from kaminpar_spark.functions.dedup import repeated_window_stats

    docs = _load(spark, sf_dir, "documents")
    return repeated_window_stats(docs, window=DUP_WINDOW).select(
        F.col("id").alias("doc_id"),
        "n_windows",
        "n_dup_windows",
        "dup_share",
    )


KMEANS_K = 8
KMEANS_ITERS = 2


def _q_kmeans_cells(spark, sf_dir):
    """Quantized Lloyd k-means assignments after 2 centroid updates (k=8,
    integer-lattice embeddings so the centroid sums are exact int64 and the
    whole fixpoint is cross-engine bit-reproducible; all-integer output)."""
    from kaminpar_spark.functions.similarity import kmeans_quantized

    emb = _load(spark, sf_dir, "embeddings")
    return kmeans_quantized(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, dim=EMB_DIM
    ).select(F.col("id").alias("vec_id"), F.col("cell").alias("cell"))


def _q_pii_scrub(spark, sf_dir):
    """PII redaction over documents augmented with deterministic synthetic
    PII (the raw corpus is PII-free word salad, so the augmentation is what
    makes the oracle actually exercise the email/IP/phone patterns)."""
    from kaminpar_spark.functions.text import pii_scrub

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), d.cast("string"),
            F.lit("@ex"), (d % 5).cast("string"),
            F.lit(".org at 10."), (d % 200).cast("string"),
            F.lit("."), (d % 50).cast("string"),
            F.lit("."), (d % 9).cast("string"),
            F.lit(" or +1 555 0"), F.lpad((d % 1000).cast("string"), 3, "0"),
        ),
    )
    return pii_scrub(aug)


def _q_repetition_stats(spark, sf_dir):
    from kaminpar_spark.functions.text import repetition_stats

    return repetition_stats(_load(spark, sf_dir, "documents"))


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any 5-gram with the synthetic
    'eval set' (doc_id % 50 == 0) are dropped; survivors listed."""
    from kaminpar_spark.functions.dedup import decontaminate

    docs = _load(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, ev, n=5).select("doc_id")


def _q_clean_corpus(spark, sf_dir):
    """End-to-end corpus cleaning: exact dedup + token-count + stopword-ratio
    gates, composed from the verified primitives (one declarative plan)."""
    from kaminpar_spark.functions.pipeline import clean_corpus

    return clean_corpus(
        _load(spark, sf_dir, "documents"),
        min_tokens=20, max_tokens=90, min_stopword_ratio=0.02,
    )


# Stratified-sampling rates for the driver query (lang strata in the fixture:
# en/de/es/fr/zh). Hash-gated so the oracle reproduces the exact sample.
STRAT_RATES = {"en": 0.5, "de": 0.25}
STRAT_DEFAULT = 0.05
NGRAM_TOPK_N = 3
NGRAM_TOPK_K = 20
# Sequence packing: context-window budget + shard fan-out (pipeline.pack_sequences).
PACK_BUDGET = 512
PACK_SHARDS = 8
# Source-level gating: mean-token threshold chosen to split the fixture's
# sources (~45-62 mean tokens) so the filter is exercised both ways.
SRCQ_MIN_MEAN_TOKENS = 52.0
SRCQ_MAX_DUP_RATE = 0.5
TFIDF_K = 3


def _q_near_dup_clusters(spark, sf_dir):
    """Canonical-representative near-dup clustering: MinHash+LSH pair graph ->
    this engine's own connected-components operator -> min-doc_id cluster."""
    from kaminpar_spark.functions.pipeline import near_dup_clusters

    return near_dup_clusters(
        _load(spark, sf_dir, "documents"),
        threshold=MINHASH_THRESH, num_hashes=MINHASH_K, bands=MINHASH_BANDS,
    )


def _q_stratified_sample(spark, sf_dir):
    from kaminpar_spark.functions.pipeline import stratified_sample

    return stratified_sample(
        _load(spark, sf_dir, "documents"),
        rates=STRAT_RATES, default_rate=STRAT_DEFAULT,
    )


MIX_TARGETS = {"en": 0.4, "de": 0.2, "fr": 0.2, "zh": 0.2}  # es dropped


def _q_domain_mix(spark, sf_dir):
    """Target-mix rebalancing: per-language keep rates derived FROM the data
    (largest achievable corpus at the target shares), then the deterministic
    hash gate. The training-mix counterpart of stratified_sample."""
    from kaminpar_spark.functions.pipeline import domain_mix_rebalance

    return domain_mix_rebalance(
        _load(spark, sf_dir, "documents"), MIX_TARGETS, strata_col="lang"
    )


def _q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing (sharded running sum)."""
    from kaminpar_spark.functions.pipeline import pack_sequences

    return pack_sequences(
        _load(spark, sf_dir, "documents"), budget=PACK_BUDGET, num_shards=PACK_SHARDS
    )


def _q_source_filter(spark, sf_dir):
    """Domain/source-level corpus gating (C4/RefinedWeb-style)."""
    from kaminpar_spark.functions.pipeline import source_quality_filter

    return source_quality_filter(
        _load(spark, sf_dir, "documents"),
        min_mean_tokens=SRCQ_MIN_MEAN_TOKENS, max_dup_rate=SRCQ_MAX_DUP_RATE,
    )


def _q_tfidf_top_terms(spark, sf_dir):
    """Per-document TF-IDF keyword extraction (top-k terms)."""
    from kaminpar_spark.functions.text import tfidf_top_terms

    return tfidf_top_terms(_load(spark, sf_dir, "documents"), k=TFIDF_K)


def _q_ngram_topk(spark, sf_dir):
    from kaminpar_spark.functions.text import ngram_topk

    return ngram_topk(
        _load(spark, sf_dir, "documents"), n=NGRAM_TOPK_N, k=NGRAM_TOPK_K
    )


def _q_fingerprints(spark, sf_dir):
    from kaminpar_spark.functions.text import fingerprints

    return fingerprints(_load(spark, sf_dir, "documents"))


def _q_media_features(spark, sf_dir):
    """Multimodal plumbing under full oracle parity: documents-as-blobs ->
    Arrow mapInPandas byte-histogram kernel (the codec-stub decode path is
    covered by pytest; this query uses the engine-independent byte 'decoder'
    so DuckDB can reproduce it)."""
    from kaminpar_spark.functions.multimodal import byte_histogram_features, media_from_documents

    return byte_histogram_features(media_from_documents(_load(spark, sf_dir, "documents")))


EMB_DUP_PLANES = 6
EMB_DUP_THRESH = 0.3


def _q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup candidates: LSH bucket self-join + exact
    cosine verification (the embedding leg of the dedup family)."""
    from kaminpar_spark.functions.similarity import embedding_near_dup_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=EMB_DUP_THRESH, num_planes=EMB_DUP_PLANES, dim=EMB_DIM
    )


def _q_frame_sample_plan(spark, sf_dir):
    """Video frame-sampling plan from metadata only (multimodal, no decode):
    JVM sequence/explode — pushdown-friendly."""
    from kaminpar_spark.functions.multimodal import frame_sample_plan, media_from_documents

    media = media_from_documents(_load(spark, sf_dir, "documents"))
    plan = frame_sample_plan(media, every_ms=1000)
    return plan.select("media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


# ---- partitioner-tier queries (VERDICT r1 item 6) ----
def _q_core_hindex(spark, sf_dir):
    """Core numbers via CORE_ROUNDS unrolled h-index supersteps (fixed-round
    form for oracle parity; library form iterates to fixpoint)."""
    from kaminpar_spark.operators.kcore import core_numbers

    g, _ = _graph(spark, sf_dir)
    return core_numbers(g, rounds=CORE_ROUNDS)


def _q_subgraph_block0(spark, sf_dir):
    """Block-induced subgraph extraction (J5/P5): edges with both endpoints
    in block 0 of the id%4 partition."""
    g, _ = _graph(spark, sf_dir)
    return g.subgraph(g.nodes.where(F.col("id") % 4 == 0)).edges


def _q_isolated_rescale(spark, sf_dir):
    """Isolated-node removal + epsilon rescale (P1): drop weight<2 edges so
    isolated nodes exist, then mirror graph_utils.cc:280-283 epsilon math."""
    import math

    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.preprocess import remove_isolated

    g, _ = _graph(spark, sf_dir)
    g2 = GraphFrame(edges=g.edges.where(F.col("weight") >= 2), nodes=g.nodes)
    rem = remove_isolated(g2, k=4, epsilon=0.03)
    n_kept = rem.graph.num_nodes()
    n_iso = rem.isolated.count()
    eps = math.floor(rem.epsilon_prime * 1e6) / 1e6
    return spark.createDataFrame(
        [(n_kept, n_iso, eps)], "n_kept long, n_isolated long, eps_prime double"
    )


def _q_lp_hardcap_step(spark, sf_dir):
    """One HARD-cap LP refinement superstep (I3) from the id%4 partition:
    gain-ordered admission within per-block residual capacity."""
    from kaminpar_spark.operators.labelprop import lp_step

    g, _ = _graph(spark, sf_dir)
    n = g.num_nodes()
    cap = n // 4 + 20
    caps = spark.createDataFrame([(b, cap) for b in range(4)], "label long, capacity long")
    state = g.nodes.select("id", (F.col("id") % 4).cast("long").alias("label"), "weight")
    new = lp_step(g, state, hard_caps=caps, semi_sync=False)
    return new.select("id", "label")


CAP_NEIGHBORS = 4
_CAP_MIX_MULT = 2654435761  # Knuth multiplicative mixer; ids < 2^31 so no overflow
_CAP_MIX_MOD = (1 << 31) - 1


def _cap_key_col():
    """(src, dst) arithmetic mixer for the neighbor-cap threshold, evaluated
    bit-identically by Spark and DuckDB: ((src*M) % P + dst) % P * M % P.
    Every intermediate stays < 2^63 for ids < 2^31; all operands are
    non-negative so ``%`` agrees across engines."""
    m, p = F.lit(_CAP_MIX_MULT), F.lit(_CAP_MIX_MOD)
    return (((F.col("src") * m) % p + F.col("dst")) % p * m) % p


def _cap_key_sql(src: str = "src", dst: str = "dst") -> str:
    m, p = _CAP_MIX_MULT, _CAP_MIX_MOD
    return f"((({src} * {m}) % {p} + {dst}) % {p} * {m}) % {p}"


def _q_capped_neighbors(spark, sf_dir):
    """Neighbor-scan cap (P4), hub-safe r5 shape: keep ~CAP_NEIGHBORS
    neighbors per src by hash thresholding pmod(key, degree) < cap (min-key
    edge always kept) — one hash aggregate + gather join, no per-src sort
    window. Cross-engine arithmetic mixer as the key (library default is
    xxhash64, Spark-only)."""
    from kaminpar_spark.operators.preprocess import cap_neighbors

    g, _ = _graph(spark, sf_dir)
    return cap_neighbors(g, CAP_NEIGHBORS, order_key=_cap_key_col()).edges.select(
        "src", "dst", "weight"
    )


def _q_degree_permutation(spark, sf_dir):
    """Degree-bucket permutation (W2): dense old->new relabeling grouping
    nodes by exponential degree bucket, stable by id within a bucket."""
    from kaminpar_spark.operators.reorder import degree_bucket_permutation

    g, _ = _graph(spark, sf_dir)
    return degree_bucket_permutation(g)


def _q_balance_round(spark, sf_dir):
    """One balancer round (I4) on a skewed partition (half the nodes in block
    0): relative-gain-ordered drain under source-overload and target-residual
    windows."""
    from kaminpar_spark.operators.balance import balance_round

    g, _ = _graph(spark, sf_dir)
    n = g.num_nodes()
    cap = n // 4 + 10
    part = g.nodes.select(
        "id",
        F.when(F.col("id") < n // 2, F.lit(0))
        .otherwise(F.col("id") % 4)
        .cast("int")
        .alias("block"),
    )
    return balance_round(g, part, cap).select("id", "block")


def _q_scc(spark, sf_dir):
    """Strongly connected components on the DIRECTED turn graph (Multistep
    trim + forward/backward min-label rounds, operators/scc.py): scc = min
    node id in the component — the directed complement of
    connected_components, checked against a DuckDB transitive-closure
    oracle."""
    from kaminpar_spark.operators.scc import strongly_connected_components
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    return strongly_connected_components(edges)


def _q_bowtie(spark, sf_dir):
    """Broder bow-tie macro-structure of the directed turn graph
    (operators/scc.bowtie_classes): CORE = largest SCC, OUT = reachable from
    it, IN = reaching it, OTHER = tendrils/tubes/disconnected — the classic
    web-link-graph decomposition, per node. Oracle: the SCC transitive
    closure reused for membership plus EXISTS probes against it."""
    from kaminpar_spark.operators.scc import bowtie_classes
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    return bowtie_classes(edges)


STRESS_HOPS = 8
LOUVAIN_ROUNDS = 2
BURST_TRAIL = 8  # event_bursts: trailing buckets per burst score


def _q_louvain_moves(spark, sf_dir):
    """Louvain phase-1 (operators/louvain.py): 2 rounds of alternating-parity
    modularity-gain argmax moves from the singleton state — gains ranked by
    the exact int64 cross-multiplied form 2m·k_in − k·Σ_tot(c∖{i}), so every
    move (and the oracle) is integer-deterministic."""
    from kaminpar_spark.operators.louvain import louvain_level

    g, _ = _graph(spark, sf_dir)
    return louvain_level(g, g.total_edge_weight(), rounds=LOUVAIN_ROUNDS)


def _q_brandes_stress(spark, sf_dir):
    """Sampled Brandes forward-backward (operators/centrality.py): exact
    int64 stress centrality (Shimbel) from the id%1000 source sample,
    8-hop horizon. The float betweenness column rides the same sweep but is
    pytest-validated (IEEE sum order), so the oracle checks stress only."""
    from kaminpar_spark.operators.centrality import brandes_centrality

    g, _ = _graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % HARMONIC_SRC_MOD == 0).select("id")
    return brandes_centrality(g, srcs, max_hops=STRESS_HOPS).select("id", "stress")


CONDENSE_MIN_W = 3


def _q_condensation(spark, sf_dir):
    """Condensation DAG layering on the REPEAT-interaction digraph (edge
    multiplicity >= 3 — the full turn digraph is one giant SCC, structurally
    true but degenerate): collapse SCCs (min-member label), then longest-path
    level per component via max-propagation supersteps — level 0 = upstream
    feeders, max level = terminal influence sinks."""
    from kaminpar_spark.operators.scc import condensation_levels
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    return condensation_levels(edges.where(F.col("weight") >= CONDENSE_MIN_W))


KATZ_HOPS = 3
KATZ_INV_BETA = 4
TEMPORAL_ROUNDS = 6
EIG_ITERS = 3


CC_PROFILE_THRESH = [1, 2, 3, 4]


def _q_cc_profile(spark, sf_dir):
    """Percolation profile: connected components of the subgraph with edge
    weight >= w for each threshold — (min_weight, n_components,
    largest_size); nodes with no qualifying edge count as singletons. Shows
    how the interaction graph fragments as weak ties are dropped."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.components import connected_components

    g, _ = _graph(spark, sf_dir)
    out = None
    for w in CC_PROFILE_THRESH:
        sub = GraphFrame(
            edges=g.edges.where(F.col("weight") >= w), nodes=g.nodes
        )
        cc = connected_components(sub, max_iters=CC_STEPS)
        agg = (
            cc.groupBy("comp")
            .agg(F.count("*").alias("sz"))
            .agg(
                F.count("*").alias("n_components"),
                F.max("sz").alias("largest_size"),
            )
            .select(
                F.lit(w).cast("long").alias("min_weight"),
                F.col("n_components").cast("long").alias("n_components"),
                F.col("largest_size").cast("long").alias("largest_size"),
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out


RESPONSE_DELTA_S = 600


def _q_role_mix(spark, sf_dir):
    """Interaction mix matrix: total edge weight between actor CLASSES
    (user/agent/tool, from the actor-key prefix) on the directed turn graph
    — who talks to whom, structurally."""
    from kaminpar_spark.sources.transcripts import synth_transcripts, turn_links

    n = _n_convs(spark, sf_dir)
    links = turn_links(synth_transcripts(spark, n), n)
    cls = lambda c: F.split(F.col(c), "_").getItem(0)
    return (
        links.groupBy(
            cls("a_src").alias("src_class"), cls("a_dst").alias("dst_class")
        )
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def _q_repeat_contacts(spark, sf_dir):
    """Temporal repeat-contact motif: for each directed interaction event
    (u,v,t), the EARLIEST repeat of the SAME directed pair within 10
    minutes; per pair the repeat count and exact latency sums —
    re-engagement cadence on the timestamped digraph. (The synthetic role
    cycle user->agent->tool never reverses a pair, so the reverse-response
    variant is structurally empty; repeats carry the temporal signal.)"""
    from kaminpar_spark.sources.transcripts import (
        synth_transcripts,
        transcript_temporal_edges,
    )

    n = _n_convs(spark, sf_dir)
    te, _ = transcript_temporal_edges(synth_transcripts(spark, n), n, stable_ids=True)
    fwd = te.select("src", "dst", F.col("ts").alias("t"))
    rev = te.select("src", "dst", F.col("ts").alias("t2"))
    ev = (
        fwd.join(rev, ["src", "dst"])
        .where((F.col("t2") > F.col("t")) & (F.col("t2") <= F.col("t") + RESPONSE_DELTA_S))
        .groupBy("src", "dst", "t")
        .agg(F.min(F.col("t2") - F.col("t")).alias("lat"))
    )
    return ev.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n_repeats"),
        F.sum("lat").cast("long").alias("total_latency_s"),
        F.min("lat").cast("long").alias("min_latency_s"),
    )


def _q_louvain_modularity(spark, sf_dir):
    """Exact-rational modularity of the louvain_moves4 labels:
    Q·(2m)² = A·2m − B is an int64 for integer weights (A = internal
    half-edge weight, B = Σ tot²) — community quality itself is value-exact,
    not just allclose; the double is ONE IEEE division of exact ints."""
    from kaminpar_spark.operators.louvain import louvain_level

    g, _ = _graph(spark, sf_dir)
    m2 = g.total_edge_weight()
    labels = louvain_level(g, m2, rounds=LOUVAIN_ROUNDS)
    ls = labels.select(F.col("id").alias("src"), F.col("comm").alias("c_src"))
    ld = labels.select(F.col("id").alias("dst"), F.col("comm").alias("c_dst"))
    a_df = (
        g.edges.join(ls.hint("shuffle_hash"), "src")
        .join(ld.hint("shuffle_hash"), "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("a"))
    )
    tot = (
        g.degrees()
        .join(labels.hint("shuffle_hash"), "id")
        .groupBy("comm")
        .agg(F.sum("weighted_degree").alias("t"))
    )
    b_df = tot.agg(
        F.sum(F.col("t") * F.col("t")).alias("b"),
        F.count("*").alias("n_comms"),
    )
    return a_df.crossJoin(b_df).select(
        F.col("n_comms").cast("long").alias("n_comms"),
        (F.col("a") * F.lit(m2) - F.col("b")).cast("long").alias("q_num"),
        F.lit(m2 * m2).cast("long").alias("q_den"),
        (
            (F.col("a") * F.lit(m2) - F.col("b")).cast("double")
            / F.lit(float(m2 * m2))
        ).alias("modularity"),
    )


def _q_event_rollup(spark, sf_dir):
    """ROLLUP aggregate: event counts + value sums by (event_type, hour) with
    subtotal and grand-total rows (grouping_id disambiguates NULL markers) —
    the OLAP grouping-sets surface over the events table."""
    ev = _load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hour"), "value"
    )
    return (
        ev.rollup("event_type", "hour")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select("event_type", "hour", "gid", "n_events", "sum_value")
    )


def _q_actor_churn(spark, sf_dir):
    """Snapshot-diff analytics (FULL OUTER surface): actors present in the
    first half of conversations vs the second, counted per actor class and
    presence status — the drift/churn check an incremental pipeline runs
    between snapshots."""
    from kaminpar_spark.sources.transcripts import actor_column, synth_transcripts

    n = _n_convs(spark, sf_dir)
    t = synth_transcripts(spark, n)
    c = F.substring("conv_id", 6, 8).cast("long")
    t = t.withColumn("actor", actor_column(n)).withColumn("half", (c >= n // 2))
    a = t.where(~F.col("half")).select("actor").distinct()
    b = t.where(F.col("half")).select(F.col("actor").alias("actor_b")).distinct()
    j = a.join(b, a.actor == b.actor_b, "full_outer")
    status = (
        F.when(F.col("actor").isNotNull() & F.col("actor_b").isNotNull(), "both")
        .when(F.col("actor").isNotNull(), "only_first")
        .otherwise("only_second")
    )
    cls = F.split(F.coalesce("actor", "actor_b"), "_").getItem(0)
    return j.groupBy(
        status.alias("status"), cls.alias("actor_class")
    ).agg(F.count("*").cast("long").alias("n_actors"))


def _q_eigenvector(spark, sf_dir):
    """Eigenvector centrality, 3 power-iteration rounds with exact floor-div
    max rescale (the HITS lattice trick on the symmetric adjacency)."""
    from kaminpar_spark.operators.centrality import eigenvector_centrality

    g, _ = _graph(spark, sf_dir)
    return eigenvector_centrality(g, iters=EIG_ITERS)


SPECTRAL_ITERS = 3


def _q_spectral_scores(spark, sf_dir):
    """Fiedler-direction scores (operators/spectral.fiedler_scores): deflated
    power iteration on sigma*I - L, all-integer (trunc-div rescale + integer
    mean deflation), 3 rounds — the spectral complement to the pool/FM
    bisection heuristics."""
    from kaminpar_spark.operators.spectral import fiedler_scores

    g, _ = _graph(spark, sf_dir)
    return fiedler_scores(g, iters=SPECTRAL_ITERS)


def _q_spectral_cut(spark, sf_dir):
    """Sign-cut statistics of the spectral scores: crossing edge weight and
    side sizes of {fiedler >= 0 | < 0} (operators/spectral.spectral_cut_stats)."""
    from kaminpar_spark.operators.spectral import fiedler_scores, spectral_cut_stats

    g, _ = _graph(spark, sf_dir)
    return spectral_cut_stats(g, fiedler_scores(g, iters=SPECTRAL_ITERS))


def _q_temporal_reach(spark, sf_dir):
    """Temporal earliest-arrival (operators/temporal.py): time-respecting
    reachability from actor id 0 over the timestamped turn digraph — an edge
    (u,v,t) is usable only if u was reached by t. 6 relaxation rounds in
    lockstep with the unrolled oracle."""
    from kaminpar_spark.operators.temporal import earliest_arrival
    from kaminpar_spark.sources.transcripts import (
        synth_transcripts,
        transcript_temporal_edges,
    )

    n = _n_convs(spark, sf_dir)
    tedges, _ = transcript_temporal_edges(
        synth_transcripts(spark, n), n, stable_ids=True
    )
    return earliest_arrival(tedges, [0], rounds=TEMPORAL_ROUNDS)


TEMPORAL_TRI_DELTAS = (20, 60)


def _q_temporal_triangles(spark, sf_dir):
    """δ-temporal triangle motifs (operators/temporal.py
    temporal_triangles): A→B→C→A with strictly increasing timestamps
    closing within δ ∈ {20, 60} seconds — the cyclic information-round-trip
    count the static triangle metric overstates by ~1000x on this digraph.
    Both window bounds live in the join predicates; smaller δ is a
    conditional sum in the single final aggregate."""
    from kaminpar_spark.operators.temporal import temporal_triangles
    from kaminpar_spark.sources.transcripts import (
        synth_transcripts,
        transcript_temporal_edges,
    )

    n = _n_convs(spark, sf_dir)
    tedges, _ = transcript_temporal_edges(
        synth_transcripts(spark, n), n, stable_ids=True
    )
    return temporal_triangles(tedges, deltas=TEMPORAL_TRI_DELTAS)


CASCADE_K = 2
CASCADE_ROUNDS = 4
CASCADE_SEED_MOD = 50


def _q_cascade(spark, sf_dir):
    """k-threshold cascade / bootstrap percolation (operators/cascade.py):
    seeds id % 50 == 0, a node activates when >= 2 neighbors are active.
    Jacobi rounds are order-free, so (id, first-activation-round) is
    deterministic; on this graph the cascade shows the two-phase hub
    dynamics (round 1: the ~13 agent hubs with >= 2 seed contacts; round 2:
    the user mass they reinforce) that BFS reachability cannot express."""
    from kaminpar_spark.operators.cascade import threshold_cascade

    g, _ = _graph(spark, sf_dir)
    seeds = g.nodes.select("id").where(F.col("id") % CASCADE_SEED_MOD == 0)
    return threshold_cascade(g, seeds, k=CASCADE_K, rounds=CASCADE_ROUNDS)


LM_COUNT = 4
LM_HOPS = 4
LM_PAIR_MOD = 100  # sample stays non-trivial down to the sf0.001 smoke graph


def _q_landmark_est(spark, sf_dir):
    """Landmark distance oracle (Das Sarma et al., WSDM'10 style): index the
    graph with L=4 top-degree landmarks via ONE shared multi-source BFS
    (operators/paths.multi_source_distances — L×n state rows, one frontier
    join per round for all landmarks at once), then answer pairwise-distance
    queries as triangle-inequality upper bounds min_lm d(lm,u)+d(lm,v) —
    a 2L-row index lookup instead of a per-query BFS, the standard 100 TB
    distance surrogate (all-pairs is off the table at n=10^9). Output:
    estimates for the deterministic pair sample id % 100 == 0, u < v."""
    from kaminpar_spark.operators.paths import multi_source_distances

    g, _ = _graph(spark, sf_dir)
    lms = (
        g.degrees()
        .orderBy(F.desc("degree"), F.asc("id"))
        .limit(LM_COUNT)
        .select("id")
    )
    lmd = multi_source_distances(g, lms, max_hops=LM_HOPS)
    u = lmd.select(
        F.col("src").alias("lm"), F.col("id").alias("u"), F.col("dist").alias("du")
    ).where(F.col("u") % LM_PAIR_MOD == 0)
    v = lmd.select(
        F.col("src").alias("lm"), F.col("id").alias("v"), F.col("dist").alias("dv")
    ).where(F.col("v") % LM_PAIR_MOD == 0)
    return (
        u.join(v, "lm")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.min(F.col("du") + F.col("dv")).cast("long").alias("est_dist"))
    )


def _q_katz(spark, sf_dir):
    """Truncated Katz index, 3 hops, β=1/4 on the exact integer lattice
    (score × 4³) — weighted walk counts through 3 gather-sum supersteps."""
    from kaminpar_spark.operators.centrality import katz_centrality

    g, _ = _graph(spark, sf_dir)
    return katz_centrality(g, hops=KATZ_HOPS, inv_beta=KATZ_INV_BETA)


ATTR_HORIZON = "30 minutes"


def _q_attributed_purchases(spark, sf_dir):
    """Attribution interval join (streaming/ingest.attribution_pairs, the
    stream-stream join primitive run in batch mode): per purchase, count and
    earliest ts of same-user views in the preceding 30 minutes."""
    from kaminpar_spark.streaming.ingest import attributed_purchase_stats

    return attributed_purchase_stats(
        _load(spark, sf_dir, "events"), horizon=ATTR_HORIZON
    )


CSR_BLOCKS = 4


def _q_csr_blocks(spark, sf_dir):
    """Hash-partitioned CSR adjacency blocks (plans/csr_blocks.py): per
    block the src-sorted offset/index/weight arrays — the north star's
    'src-sorted edge blocks with per-partition offset arrays', value-exact
    down to every array element. The library API returns one row per block
    with array columns; the driver harness canonicalizer sorts scalar cells
    only, so THIS wrapper posexplodes each array to (block, arr, pos, value)
    rows — same information, hash-checkable element by element."""
    from kaminpar_spark.plans.csr_blocks import to_csr_blocks

    g, _ = _graph(spark, sf_dir)
    blocks = to_csr_blocks(g, num_blocks=CSR_BLOCKS)

    # ONE explode over a concat of (arr, pos, value) structs — a union of
    # four per-array selects would re-run the applyInPandas CSR build per
    # branch (Catalyst does not CSE across union arms)
    def _tagged(col: str):
        return F.transform(
            F.col(col),
            lambda v, i: F.struct(
                F.lit(col).alias("arr"),
                i.cast("long").alias("pos"),
                v.cast("long").alias("value"),
            ),
        )

    combined = F.concat(
        _tagged("ids"), _tagged("indptr"), _tagged("indices"), _tagged("eweights")
    )
    return blocks.select("block", F.explode(combined).alias("e")).select(
        "block", "e.arr", "e.pos", "e.value"
    )


def _q_nbr_mean(spark, sf_dir):
    """GraphSAGE mean aggregator (operators/gnn.py): per node, the
    element-wise mean of its neighbors' 64-dim embeddings (features assigned
    deterministically by id mod |embeddings|). Integer-lattice quantization
    makes the float means cross-engine exact. The library returns
    (id, n_nbrs, nbr_mean array<double>); the harness canonicalizer cannot
    sort array cells, so the wrapper posexplodes to (id, n_nbrs, pos, value)
    scalar rows."""
    from kaminpar_spark.operators.gnn import neighbor_mean_features

    g, _ = _graph(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    feats = g.nodes.join(
        F.broadcast(emb),
        F.pmod(F.col("id"), F.lit(n_vecs)) == F.col("vec_id"),
    ).select("id", F.col("embedding").alias("feat"))
    nm = neighbor_mean_features(g, feats, dim=EMB_DIM)
    return nm.select("id", "n_nbrs", F.posexplode("nbr_mean")).select(
        "id",
        "n_nbrs",
        F.col("pos").cast("long").alias("pos"),
        F.col("col").alias("value"),
    )


MSF_ROUNDS = 2
MSF_UNION_STEPS = 2


def _q_msf_bounded(spark, sf_dir):
    """Boruvka minimum spanning forest (operators/mst.py), bounded
    deterministic form: 2 rounds x 2 union steps, lexicographic (weight,a,b)
    tie-break makes the picked forest unique — the oracle unrolls the exact
    same supersteps. Full library form (run-to-convergence) is covered by
    pytest (tests/test_mst.py vs Kruskal)."""
    from kaminpar_spark.operators.mst import boruvka_msf

    g, _ = _graph(spark, sf_dir)
    msf, _comp = boruvka_msf(g, rounds=MSF_ROUNDS, union_steps=MSF_UNION_STEPS)
    return msf


ANF_ROUNDS = 3
ANF_STREAMS = 4


def _q_anf_ranks(spark, sf_dir):
    """ANF / Flajolet-Martin neighborhood sketch (operators/anf.py): per-node
    64-bit OR-masks after 3 supersteps + exact lowest-zero ranks — the
    integer sufficient statistics of the radius-3 ball-size estimate,
    hash-checked bit for bit."""
    from kaminpar_spark.operators.anf import anf_masks, anf_ranks

    g, _ = _graph(spark, sf_dir)
    return anf_ranks(anf_masks(g, rounds=ANF_ROUNDS, streams=ANF_STREAMS), ANF_STREAMS)


def _q_hop_plot(spark, sf_dir):
    """ANF hop plot (operators/anf.py): global exact-integer rank sums after
    t = 0..3 OR-supersteps — the effective-diameter readout as a
    hash-checkable DataFrame."""
    from kaminpar_spark.operators.anf import hop_plot

    g, _ = _graph(spark, sf_dir)
    return hop_plot(g, max_t=ANF_ROUNDS, streams=ANF_STREAMS)


PR_DIR_ITERS = 4


def _q_pagerank_directed(spark, sf_dir):
    """Directed PageRank over the turn digraph (who RECEIVES attention under
    actual turn direction). Unlike pagerank5's symmetric graph this has
    dangling actors (never initiate -> out-degree 0), so the oracle checks
    the dangling-mass redistribution path end to end."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.pagerank import pagerank
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    g = GraphFrame.from_edge_pairs(edges, symmetrize=False)
    pr = pagerank(g, tol=0.0, max_iters=PR_DIR_ITERS)
    return pr.select("id", F.round("rank", 6).alias("rank"))


BACKBONE_K = 2


def _q_backbone(spark, sf_dir):
    """Weight-backbone sparsifier (operators/sparsify.py): bounded MSF ∪
    per-node strongest-2 edges — the connectivity-preserving pre-analytics
    thinning, deterministic end to end."""
    from kaminpar_spark.operators.sparsify import weight_backbone

    g, _ = _graph(spark, sf_dir)
    return weight_backbone(
        g, k=BACKBONE_K, msf_rounds=MSF_ROUNDS, union_steps=MSF_UNION_STEPS
    )


KTRUSS_K = 4
KTRUSS_ROUNDS = 2


def _q_ktruss(spark, sf_dir):
    """k-truss peel (operators/truss.py), bounded deterministic form: 2 peel
    rounds at k=4 — surviving canonical edges with the final round's triangle
    support. Fixpoint form is covered by pytest (tests/test_truss.py vs a
    pure-Python peel)."""
    from kaminpar_spark.operators.truss import k_truss

    g, _ = _graph(spark, sf_dir)
    return k_truss(g, KTRUSS_K, rounds=KTRUSS_ROUNDS)



# ---- round-3 session additions: structure metrics, exact balls, weighted
# dedup, bipartiteness, latency quantiles ----
def _q_transitivity(spark, sf_dir):
    """Global clustering coefficient: exact int64 (3T, wedges) + one rounded
    IEEE ratio (operators/triangles.global_transitivity)."""
    from kaminpar_spark.operators.triangles import global_transitivity

    g, _ = _graph(spark, sf_dir)
    return global_transitivity(g)


def _q_rectangles(spark, sf_dir):
    """Non-induced 4-cycle (rectangle) count via the codegree identity
    C4 = (1/2) sum C(codeg, 2) — the general-graph sibling of the bipartite
    butterfly count. Uncapped at oracle scale; max_num_neighbors is the
    documented hub cap on real corpora."""
    from kaminpar_spark.operators.triangles import rectangle_count

    g, _ = _graph(spark, sf_dir)
    return rectangle_count(g)


TWO_HOP_SRC_MOD = 50


def _q_two_hop_reach(spark, sf_dir):
    """EXACT 2-hop ball sizes for sampled sources (id % 50 == 0) via the
    shared multi-source BFS — the ground-truth twin of the ANF estimate."""
    from kaminpar_spark.operators.paths import khop_ball_sizes

    g, _ = _graph(spark, sf_dir)
    seeds = g.nodes.where(F.col("id") % TWO_HOP_SRC_MOD == 0).select("id")
    return khop_ball_sizes(g, seeds, hops=2)


def _q_anf_rank_hist(spark, sf_dir):
    """Exact ANF rank histogram (t, r_sum, cnt): the COMPLETE integer
    sufficient statistic of the neighborhood-function curve — effective
    diameter is a driver-side fold over this tiny table
    (operators/anf.effective_diameter)."""
    from kaminpar_spark.operators.anf import rank_histogram

    g, _ = _graph(spark, sf_dir)
    return rank_histogram(g, max_t=ANF_ROUNDS, streams=ANF_STREAMS)


WJ_THRESH = 0.3


def _q_weighted_jaccard(spark, sf_dir):
    """EXACT weighted (multiset / Ruzicka) shingle Jaccard — catches
    templated boilerplate that set Jaccard under-reports. w_inter/w_union
    are exact int64; the ratio is one IEEE division."""
    from kaminpar_spark.functions.dedup import weighted_jaccard_pairs

    docs = _load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return weighted_jaccard_pairs(docs, threshold=WJ_THRESH)


BIPARTITE_HOPS = 12


def _q_bipartite_check(spark, sf_dir):
    """Per-component odd-cycle detection: BFS-parity 2-coloring from each
    component's min-id root, conflict-edge count per component; hop-bounded
    with a NULL verdict for unreached nodes (never a wrong one)."""
    from kaminpar_spark.operators.components import bipartite_check

    g, _ = _graph(spark, sf_dir)
    return bipartite_check(g, max_hops=BIPARTITE_HOPS)


def _q_response_latency(spark, sf_dir):
    """Per-agent EXACT p50/p90 user->assistant response latency via the
    hub-safe histogram-cumsum quantile (window over DISTINCT gap values,
    never over an actor's turn count)."""
    from kaminpar_spark.sources.transcripts import (
        response_latency_quantiles,
        synth_transcripts,
    )

    n = _n_convs(spark, sf_dir)
    return response_latency_quantiles(synth_transcripts(spark, n), n)




SNM_WINDOW = 4
SQ8_RERANK = 4


def _q_snm_candidates(spark, sf_dir):
    """Sorted-neighborhood (merge/purge) dedup candidates: pairs within
    SNM_WINDOW positions of the prefix-key sort order — range-partition +
    broadcast-offset global rank, never a single-partition window."""
    from kaminpar_spark.functions.dedup import snm_candidate_pairs

    docs = _load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return snm_candidate_pairs(docs, window=SNM_WINDOW)


def _q_sq8_topk(spark, sf_dir):
    """Scalar-quantized (int8-range) ANN: exact-int64 quantized dot-product
    prefilter -> exact cosine rerank of SQ8_RERANK*k survivors."""
    from kaminpar_spark.functions.similarity import sq8_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    return sq8_topk(emb, q, k=10, rerank=SQ8_RERANK)


def _q_sq8_recall(spark, sf_dir):
    """Recall@10 of the SQ8 prefilter+rerank path vs exact brute force."""
    from kaminpar_spark.functions.similarity import brute_force_topk, sq8_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=10).select("qid", "nn_id")
    approx = sq8_topk(emb, q, k=10, rerank=SQ8_RERANK).select("qid", "nn_id")
    return _recall_df(exact, approx)


def _q_edge_churn(spark, sf_dir):
    """EDGE-level snapshot diff (companion to the actor-level actor_churn):
    directed actor-pair link weights of two overlapping conversation slices
    ([0, 2n/3) vs [n/3, n)), full-outer joined and rolled up per status
    (added / removed / changed / same) — the drift readout an incremental
    edge-table pipeline monitors between snapshots."""
    from kaminpar_spark.sources.transcripts import synth_transcripts, turn_links

    n = _n_convs(spark, sf_dir)
    t = synth_transcripts(spark, n)
    c = F.substring("conv_id", 6, 8).cast("long")
    old = (
        turn_links(t.where(c < 2 * n // 3), n)
        .groupBy("a_src", "a_dst")
        .agg(F.count("*").alias("w_old"))
    )
    new = (
        turn_links(t.where(c >= n // 3), n)
        .groupBy("a_src", "a_dst")
        .agg(F.count("*").alias("w_new"))
    )
    j = old.join(new, ["a_src", "a_dst"], "full_outer")
    status = (
        F.when(F.col("w_old").isNull(), "added")
        .when(F.col("w_new").isNull(), "removed")
        .when(F.col("w_old") != F.col("w_new"), "changed")
        .otherwise("same")
    )
    return j.groupBy(status.alias("status")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.coalesce("w_old", F.lit(0))).cast("long").alias("total_old"),
        F.sum(F.coalesce("w_new", F.lit(0))).cast("long").alias("total_new"),
    )




WL_ROUNDS = 2
OOV_VOCAB = 500
SMOOTH_ROUNDS = 2
SMOOTH_DIM = 8  # first 8 embedding components as node features


def _q_wl_classes(spark, sf_dir):
    """1-WL color refinement after WL_ROUNDS rounds (operators/wl.py):
    multiset-hash relabeling — hub-safe (no per-node sort), bit-reproducible
    modular arithmetic."""
    from kaminpar_spark.operators.wl import wl_refine

    g, _ = _graph(spark, sf_dir)
    return wl_refine(g, rounds=WL_ROUNDS)


VOCAB_BUCKETS = 8


def _q_vocab_growth(spark, sf_dir):
    """Heaps-law-style novelty curve: distinct 3-gram SHINGLES first seen in
    each 1/8th corpus prefix (doc_id order) — the saturation curve a dedup /
    tokenizer-coverage plan reads before fixing a vocabulary (the fixture's
    word vocab is 31 tokens, so word-level growth is degenerate; shingles
    carry the combinatorial diversity). Scale shape: the shared portable
    shingle kernel, ONE groupBy(shingle) computing the first-occurrence
    bucket, an 8-row histogram, and an 8-row cumulative sum — never a
    per-prefix distinct over the corpus."""
    from kaminpar_spark.functions.dedup import shingles

    docs = _load(spark, sf_dir, "documents")
    nb = VOCAB_BUCKETS
    max_id = docs.agg(F.max("doc_id")).first()[0]
    width = (max_id + nb) // nb  # ceil((max_id+1)/nb)
    sh = shingles(docs, "doc_id", "text", n=3, portable=True)
    first = (
        sh.select(
            F.expr(f"CAST(id DIV {width} AS INT)").alias("bucket"), "shingle_hash"
        )
        .groupBy("shingle_hash")
        .agg(F.min("bucket").alias("first_bucket"))
    )
    hist = first.groupBy("first_bucket").agg(F.count("*").alias("new_tokens"))
    w = Window.orderBy("first_bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.select(
            F.col("first_bucket").cast("int").alias("prefix_bucket"),
            F.col("new_tokens").cast("long").alias("new_tokens"),
            F.sum("new_tokens").over(w).cast("long").alias("vocab"),
        )
    )


def _q_oov_rate(spark, sf_dir):
    """Per-document OOV rate vs the corpus' own top-OOV_VOCAB token
    vocabulary (tokenizer-coverage gate)."""
    from kaminpar_spark.functions.text import oov_stats

    return oov_stats(_load(spark, sf_dir, "documents"), vocab_size=OOV_VOCAB)


def _q_surprisal(spark, sf_dir):
    """Rank-based unigram surprisal quality scores (functions/text.
    surprisal_scores): exact integer floor(log2(vocab rank)) per token,
    summed per document — the perplexity-filter stand-in."""
    from kaminpar_spark.functions.text import surprisal_scores

    return surprisal_scores(_load(spark, sf_dir, "documents"))


CHUNK_W = 8
CHUNK_TH = 2


def _q_cohesion_chunks(spark, sf_dir):
    """TextTiling-style cohesion chunking stats per document
    (functions/text.cohesion_chunks; window=8, threshold=2)."""
    from kaminpar_spark.functions.text import cohesion_chunks

    return cohesion_chunks(
        _load(spark, sf_dir, "documents"), window=CHUNK_W, threshold=CHUNK_TH
    )


def _q_zipf(spark, sf_dir):
    """Corpus Zipf rank-frequency profile (functions/text.zipf_profile):
    vocabulary ranked by (tf desc, token asc) with the scalable sorted_rank
    (no single-partition window), bucketed into power-of-2 rank octaves via
    a broadcast integer-bound table — exact int64 stats per bucket."""
    from kaminpar_spark.functions.text import zipf_profile

    return zipf_profile(_load(spark, sf_dir, "documents"))


def _q_feature_smooth(spark, sf_dir):
    """SGC-style 2-round degree-normalized feature smoothing on the exact
    int64 lattice (operators/gnn.smoothed_features); features = first
    SMOOTH_DIM embedding components assigned by id mod |embeddings|."""
    from kaminpar_spark.operators.gnn import smoothed_features

    g, _ = _graph(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    feats = g.nodes.join(
        F.broadcast(emb),
        F.pmod(F.col("id"), F.lit(n_vecs)) == F.col("vec_id"),
    ).select("id", F.slice("embedding", 1, SMOOTH_DIM).alias("feat"))
    out = smoothed_features(g, feats, dim=SMOOTH_DIM, rounds=SMOOTH_ROUNDS)
    return out.select(
        "id", *[F.col("q")[i].alias(f"q{i}") for i in range(SMOOTH_DIM)]
    )




RICH_CLUB_KS = (1, 2, 4, 8, 16, 32)


def _q_ego_density(spark, sf_dir):
    """OddBall-style ego-net features (Akoglu et al. 2010): for every node,
    ego_nodes = deg+1, ego_edges = deg + triangles(v) (edges inside the
    1-hop ego net), and the density ratio — the classic star-vs-clique
    anomaly axis. Pure composition of the green degree + per-node triangle
    kernels; exact ints + one rounded IEEE division."""
    from kaminpar_spark.operators.triangles import triangles_per_node

    g, _ = _graph(spark, sf_dir)
    tri = triangles_per_node(g)
    deg = g.degrees().select("id", "degree")
    return tri.join(deg.hint("shuffle_hash"), "id").select(
        "id",
        (F.col("degree") + 1).cast("long").alias("ego_nodes"),
        (F.col("degree") + F.col("triangles")).cast("long").alias("ego_edges"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                (F.col("degree") + F.col("triangles"))
                / (F.col("degree") + 1)
                / F.col("degree")
                * 2,
                6,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("ego_density"),
    )


def _q_rich_club(spark, sf_dir):
    """Rich-club profile: for each degree threshold k, the number of nodes
    with degree > k and the number of (undirected) edges among them —
    the exact integer sufficient statistic of the rich-club coefficient
    phi(k) = 2*E_k / (N_k * (N_k - 1)). One degree table + one semi-joined
    edge aggregate per threshold, unioned (|K| ~ 6 thresholds)."""
    g, _ = _graph(spark, sf_dir)
    deg = g.degrees().select("id", "degree")
    und = g.edges.where(F.col("src") < F.col("dst")).select("src", "dst")
    parts = []
    for k in RICH_CLUB_KS:
        rich = deg.where(F.col("degree") > k).select("id")
        n_rich = rich.count()
        e_rich = (
            und.join(rich.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(rich.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .count()
        )
        parts.append((k, n_rich, e_rich))
    return spark.createDataFrame(parts, "k int, n_rich long, rich_edges long")


def _q_wl_quotient(spark, sf_dir):
    """Structural-equivalence collapse: contract the graph by its round-2
    1-WL classes (quotient multigraph with summed weights) — WL refinement
    composed with the green A1 contraction kernel; the summarization a
    100 TB pipeline runs before per-class analytics."""
    from kaminpar_spark.operators.contraction import contract
    from kaminpar_spark.operators.wl import wl_refine

    g, _ = _graph(spark, sf_dir)
    clustering = wl_refine(g, rounds=WL_ROUNDS).select("id", F.col("wl").alias("cluster"))
    res = contract(g, clustering, stable_ids=True)
    return res.coarse.edges.select("src", "dst", F.col("weight").cast("long").alias("weight"))




CURRICULUM_BATCH = 32


def _q_curriculum(spark, sf_dir):
    """Length-curriculum batch plan (short-to-long global order via the
    scalable sorted_rank, cut into CURRICULUM_BATCH-doc batches; per-batch
    token stats). max_tokens is non-decreasing across batches by
    construction — the auditability property curriculum training needs."""
    from kaminpar_spark.functions.pipeline import curriculum_batches

    return curriculum_batches(
        _load(spark, sf_dir, "documents"), batch_size=CURRICULUM_BATCH
    )




def _q_edge_stress(spark, sf_dir):
    """Sampled EDGE betweenness / stress (Girvan-Newman): per undirected
    edge, the exact-int64 sigma*(1+g) credit over the id%1000 source sample;
    the float e_betweenness column rides the same sweep (pytest-validated,
    IEEE order)."""
    from kaminpar_spark.operators.centrality import brandes_edge_centrality

    g, _ = _graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % HARMONIC_SRC_MOD == 0).select("id")
    return brandes_edge_centrality(g, srcs, max_hops=STRESS_HOPS).select(
        "a", "b", "e_stress"
    )




GN_CUT = 100  # e_stress cut threshold (sf-tuned: isolates the top bridges)


def _q_gn_split(spark, sf_dir):
    """One Girvan-Newman round as a pure composition of green kernels:
    compute sampled edge stress, CUT every edge with e_stress >= GN_CUT
    (the high-betweenness community bridges), then connected components of
    the remainder — (comp, size) of the resulting community split."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.centrality import brandes_edge_centrality
    from kaminpar_spark.operators.components import connected_components
    from kaminpar_spark.plans.lineage import truncate

    g, _ = _graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % HARMONIC_SRC_MOD == 0).select("id")
    es = brandes_edge_centrality(g, srcs, max_hops=STRESS_HOPS)
    keep = es.where(F.col("e_stress") < GN_CUT).select("a", "b")
    edges = keep.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        keep.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).withColumn("weight", F.lit(1).cast("long"))
    cut_g = GraphFrame(edges=truncate(edges), nodes=g.nodes)
    cc = connected_components(cut_g)
    return cc.groupBy("comp").agg(F.count("*").cast("long").alias("size"))




NEG_PROBES = 8
NEG_SEED_MOD = 25


def _q_cycle_stats(spark, sf_dir):
    """Directed-cycle readout of the SCC labels (one row): total SCCs,
    non-trivial SCCs, nodes on directed cycles, largest SCC — the
    cycle-detection summary the condensation pipeline starts from."""
    from kaminpar_spark.operators.scc import strongly_connected_components
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    n = _n_convs(spark, sf_dir)
    edges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    sizes = strongly_connected_components(edges).groupBy("scc").agg(
        F.count("*").alias("sz")
    )
    return sizes.agg(
        F.count("*").cast("long").alias("n_sccs"),
        F.sum((F.col("sz") > 1).cast("int")).cast("long").alias("n_nontrivial"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("nodes_in_cycles"),
        F.max("sz").cast("long").alias("largest_scc"),
    )


def _q_linkpred_negatives(spark, sf_dir):
    """Deterministic negative sampling for link-prediction training
    (operators/linkpred.negative_samples): arithmetic-mixer candidates for
    the id%25 seed sample, anti-joined against the adjacency."""
    from kaminpar_spark.operators.linkpred import negative_samples

    g, _ = _graph(spark, sf_dir)
    n_nodes = g.num_nodes()
    seeds = g.nodes.where(F.col("id") % NEG_SEED_MOD == 0).select("id")
    return negative_samples(g, seeds, n_nodes, probes=NEG_PROBES)




LP_TRAIN_HOLDOUT = 5
LP_TRAIN_PROBES = 4


def _q_linkpred_training(spark, sf_dir):
    """Leakage-free link-prediction TRAINING SET (operators/linkpred.
    training_pairs): hash-gated holdout positives, features recomputed on
    the residual graph (held edges removed first), mixer-probed negatives
    anti-joined against the full edge set, per-pair CN/RA/degree/PA/Jaccard
    features — the complete ML data-prep protocol as one plan."""
    from kaminpar_spark.operators.linkpred import training_pairs

    g, _ = _graph(spark, sf_dir)
    return training_pairs(
        g, g.num_nodes(), holdout_mod=LP_TRAIN_HOLDOUT, probes=LP_TRAIN_PROBES
    )


SSJOIN_THRESH = 0.4


def _q_ssjoin(spark, sf_dir):
    """EXACT all-pairs set-similarity join via prefix filtering (PPJoin):
    the exact counterpart to minhash_near_dups — no LSH false negatives,
    candidates only from each doc's rarest-shingle prefix."""
    from kaminpar_spark.functions.dedup import prefix_filter_jaccard_pairs

    docs = _load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = prefix_filter_jaccard_pairs(docs, threshold=SSJOIN_THRESH)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))




SEEDED_LP_ROUNDS = 3
SEEDED_LP_MOD = 100
SEEDED_LP_CLASSES = 4


def _q_seeded_labels(spark, sf_dir):
    """Semi-supervised label spreading: id%100 seeds carry class id%4 fixed;
    3 plurality rounds classify the rest (NULL where no labeled neighbor
    within 3 hops). The classification flavor of LP, argmax bit-exact via
    the (w, -label) struct-max."""
    from kaminpar_spark.operators.labelprop import seeded_label_propagation

    g, _ = _graph(spark, sf_dir)
    seeds = g.nodes.where(F.col("id") % SEEDED_LP_MOD == 0).select(
        "id", (F.col("id") % SEEDED_LP_CLASSES).alias("label")
    )
    return seeded_label_propagation(g, seeds, rounds=SEEDED_LP_ROUNDS)




MOVERS_TOPK = 100


def _q_rank_movers(spark, sf_dir):
    """Cross-snapshot PageRank drift: PR on the full corpus vs PR on the
    first-2/3 snapshot (same 5 fixed iterations), compared per ACTOR (ids
    are snapshot-local), top movers by |delta| — the rank-churn monitor an
    incremental pipeline runs between snapshots. Actors absent from the old
    snapshot read as delta = rank_full (new entrants)."""
    from kaminpar_spark.operators.pagerank import pagerank
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph

    n = _n_convs(spark, sf_dir)
    t = synth_transcripts(spark, n)
    c = F.substring("conv_id", 6, 8).cast("long")
    g_full, amap_full = _graph(spark, sf_dir)
    g_old, amap_old = transcript_graph(t.where(c < 2 * n // 3), n, stable_ids=True)
    pr_full = (
        pagerank(g_full, tol=0.0, max_iters=PR_ITERS)
        .join(amap_full, "id")
        .select("actor", F.round("rank", 6).alias("rank_full"))
    )
    pr_old = (
        pagerank(g_old, tol=0.0, max_iters=PR_ITERS)
        .join(amap_old, "id")
        .select("actor", F.round("rank", 6).alias("rank_old"))
    )
    j = pr_full.join(pr_old, "actor", "left").select(
        "actor",
        "rank_full",
        F.coalesce("rank_old", F.lit(0.0)).alias("rank_old"),
        F.round(F.col("rank_full") - F.coalesce("rank_old", F.lit(0.0)), 6).alias(
            "delta"
        ),
    )
    return j.orderBy(F.abs(F.col("delta")).desc(), "actor").limit(MOVERS_TOPK)


DENSEST_ROUNDS = 6
DENSEST_EPS = (1, 10)  # eps = 1/10: remove deg <= 1.1 * avg per round


def _q_densest_peel(spark, sf_dir):
    """BKV densest-subgraph peel trace: per-round (n, half_edges, density)
    with the removal threshold evaluated in pure int64
    (operators/densest.densest_peel_rounds) — the whole peel is
    oracle-exact; density is the one rounded IEEE ratio per row."""
    from kaminpar_spark.operators.densest import densest_peel_rounds

    g, _ = _graph(spark, sf_dir)
    return densest_peel_rounds(
        g, rounds=DENSEST_ROUNDS, eps_num=DENSEST_EPS[0], eps_den=DENSEST_EPS[1]
    )


def _q_four_cliques(spark, sf_dir):
    """Exact K4 count via the degree-orientation DAG: each 4-clique found
    once as an oriented triangle plus a shared out-neighbor
    (operators/triangles.four_clique_count)."""
    from kaminpar_spark.operators.triangles import four_clique_count

    g, _ = _graph(spark, sf_dir)
    return four_clique_count(g)


def _q_triad_census(spark, sf_dir):
    """Directed triad census on the turn digraph: feed-forward ordered
    patterns vs distinct 3-cycles, computed by annotating the (degree-
    oriented) undirected triangles with 2-bit pair direction masks — no
    unoriented directed wedge join, no hub blow-up
    (operators/triangles.directed_triad_census)."""
    from kaminpar_spark.operators.triangles import directed_triad_census
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_digraph

    g, _ = _graph(spark, sf_dir)
    n = _n_convs(spark, sf_dir)
    dedges, _ = transcript_digraph(synth_transcripts(spark, n), n, stable_ids=True)
    return directed_triad_census(g, dedges.select("src", "dst"))


TRI_CC_STEPS = 8


def _q_clustering_spectrum(spark, sf_dir):
    """Degree-dependent clustering spectrum c(k): per degree k >= 2, the
    node count and exact incident-triangle mass (int64), and
    c(k) = 2*sum_triangles / (n_nodes*k*(k-1)) as the single final IEEE
    division (round 6) — the hierarchical-structure signature curve.
    Composition of triangles_per_node + degrees; one hash aggregate."""
    from kaminpar_spark.operators.triangles import triangles_per_node

    g, _ = _graph(spark, sf_dir)
    j = (
        g.degrees()
        .select("id", "degree")
        .join(triangles_per_node(g).hint("shuffle_hash"), "id", "left")
        .select("degree", F.coalesce("triangles", F.lit(0)).alias("t"))
        .where(F.col("degree") >= 2)
    )
    return (
        j.groupBy("degree")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("t").cast("long").alias("sum_triangles"),
        )
        .select(
            "degree",
            "n_nodes",
            "sum_triangles",
            F.round(
                2.0 * F.col("sum_triangles")
                / (F.col("n_nodes") * F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("ck"),
        )
    )


def _q_knn_spectrum(spark, sf_dir):
    """Average-neighbor-degree spectrum knn(k) (degree-weighted Pastor-
    Satorras variant): per degree k, the node count, exact int64 sum of
    neighbor-degree sums, and knn(k) = sum / (k * n_k) as ONE final IEEE
    division (round 6). The degree-correlation companion curve to
    assortativity; two hash joins + one aggregate."""
    g, _ = _graph(spark, sf_dir)
    deg = g.degrees().select("id", "degree")
    s = (
        g.edges.select("src", "dst")
        .join(
            deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddeg")).hint(
                "shuffle_hash"
            ),
            "dst",
        )
        .groupBy("src")
        .agg(F.sum("ddeg").cast("long").alias("s"))
    )
    return (
        deg.join(s.withColumnRenamed("src", "id").hint("shuffle_hash"), "id")
        .groupBy("degree")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("s").cast("long").alias("sum_nbr_deg"),
        )
        .select(
            "degree",
            "n_nodes",
            "sum_nbr_deg",
            F.round(
                1.0 * F.col("sum_nbr_deg") / (F.col("degree") * F.col("n_nodes")), 6
            ).alias("knn"),
        )
    )


def _q_pagerank_by_role(spark, sf_dir):
    """PageRank mass by actor class (user/agent/tool): the per-node rounded
    ranks (already cross-engine exact, see pagerank5) scaled to e6 integers
    and summed exactly per role — where the attention mass sits
    structurally. Summing doubles cross-engine would be order-sensitive;
    the scaled-int sum is not."""
    from kaminpar_spark.operators.pagerank import pagerank

    g, amap = _graph(spark, sf_dir)
    pr = pagerank(g, tol=0.0, max_iters=PR_ITERS)
    role = amap.select("id", F.split("actor", "_").getItem(0).alias("role"))
    return (
        pr.select("id", F.round(F.col("rank") * 1000000, 0).cast("long").alias("e6"))
        .join(role.hint("shuffle_hash"), "id")
        .groupBy("role")
        .agg(
            F.count("*").cast("long").alias("n_actors"),
            F.sum("e6").cast("long").alias("rank_mass_e6"),
        )
    )


SWEEP_J = 13  # power-of-2 prefix sizes 1..4096


def _q_ppr_sweep(spark, sf_dir):
    """Local-community conductance sweep (Andersen-Chung-Lang shape): rank
    nodes by PPR score (e6 scaled ints desc, id asc — cross-engine exact
    order), then for each power-of-2 prefix size k report the half-edge cut,
    the prefix volume, and phi = cut/2 / min(vol, 2m - vol).

    Scale shape: the sweep curve needs NO global cumulative window — cut(k)
    and vol(k) for all SWEEP_J prefixes come from ONE conditional-sum hash
    aggregate each (the simhash ladder trick): 13 sums over the edges-with-
    ranks join and 13 over the node table. The only driver data is 2 scalar
    rows."""
    from kaminpar_spark.ids import sorted_rank
    from kaminpar_spark.operators.pagerank import personalized_pagerank

    g, _ = _graph(spark, sf_dir)
    pr = personalized_pagerank(
        g, list(range(PPR_SOURCES)), tol=0.0, max_iters=PR_ITERS
    )
    e6 = pr.select(
        "id",
        F.round(F.col("rank") * 1000000, 0).cast("long").alias("e6"),
    )
    ranked = sorted_rank(
        e6.select("id", (-F.col("e6")).alias("ne6")), ["ne6", "id"], out="r"
    ).select("id", "r")
    nd = ranked.join(g.degrees().select("id", "degree").hint("shuffle_hash"), "id")
    vol_row = nd.agg(
        F.sum("degree").cast("long").alias("tot"),
        *[
            F.sum(F.when(F.col("r") < 2**j, F.col("degree")).otherwise(0))
            .cast("long")
            .alias(f"v{j}")
            for j in range(SWEEP_J)
        ],
    ).first()
    er = (
        g.edges.select("src", "dst")
        .join(
            ranked.select(F.col("id").alias("src"), F.col("r").alias("rs")).hint(
                "shuffle_hash"
            ),
            "src",
        )
        .join(
            ranked.select(F.col("id").alias("dst"), F.col("r").alias("rd")).hint(
                "shuffle_hash"
            ),
            "dst",
        )
    )
    cut_row = er.agg(
        *[
            F.sum(
                ((F.col("rs") < 2**j) != (F.col("rd") < 2**j)).cast("long")
            )
            .cast("long")
            .alias(f"c{j}")
            for j in range(SWEEP_J)
        ]
    ).first()
    rows = [
        (2**j, int(cut_row[f"c{j}"]), int(vol_row[f"v{j}"]), int(vol_row["tot"]))
        for j in range(SWEEP_J)
    ]
    raw = spark.createDataFrame(rows, "k long, cut_he long, vol long, tot long")
    mn = F.least(F.col("vol"), F.col("tot") - F.col("vol"))
    return raw.select(
        "k",
        "cut_he",
        "vol",
        F.when(mn > 0, F.round(1.0 * F.col("cut_he") / (2 * mn), 6)).alias("phi"),
    )


def _q_tool_stats(spark, sf_dir):
    """Per-tool usage dashboard: call count, distinct conversations
    touched, and share of all tool calls (exact int64 counts, ONE final
    division). Two hash aggregates — countDistinct is a two-phase exact
    distinct, fine at corpus scale for a bounded tool vocabulary."""
    from kaminpar_spark.sources.transcripts import synth_transcripts

    t = synth_transcripts(spark, _n_convs(spark, sf_dir))
    calls = t.where(F.col("tool").isNotNull())
    per = calls.groupBy("tool").agg(
        F.count("*").cast("long").alias("n_calls"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )
    total = calls.agg(F.count("*").cast("long").alias("total"))
    return per.crossJoin(F.broadcast(total)).select(
        "tool",
        "n_calls",
        "n_convs",
        F.round(1.0 * F.col("n_calls") / F.col("total"), 6).alias("call_share"),
    )


def _q_pagerank_gini(spark, sf_dir):
    """Gini coefficient of the PageRank mass — attention inequality across
    actors. Per-node ranks enter as the cross-engine-exact e6 scaled ints
    (see pagerank_by_role), ranked by the scalable sort-rank; every moment
    is exact int64 with ONE final IEEE division (round 6)."""
    from kaminpar_spark.ids import sorted_rank
    from kaminpar_spark.operators.pagerank import pagerank

    g, _ = _graph(spark, sf_dir)
    pr = pagerank(g, tol=0.0, max_iters=PR_ITERS)
    e6 = pr.select(
        "id", F.round(F.col("rank") * 1000000, 0).cast("long").alias("e6")
    )
    ranked = sorted_rank(e6, ["e6", "id"], out="r")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("e6").cast("long").alias("rank_mass_e6"),
        F.sum((F.col("r") + 1) * F.col("e6")).cast("long").alias("rd"),
    )
    return agg.select(
        "n_nodes",
        "rank_mass_e6",
        F.round(
            (2.0 * F.col("rd") - (F.col("n_nodes") + 1) * F.col("rank_mass_e6"))
            / (F.col("n_nodes") * F.col("rank_mass_e6")),
            6,
        ).alias("gini"),
    )


def _q_core_profile(spark, sf_dir):
    """Core-decomposition profile: per core number, node count and the
    cumulative k-core size (|{v : core(v) >= k}|) — the engagement-layering
    curve. Reuses the h-index core chain; the cumulative window runs over
    the distinct-core table (tens of rows), never the node table."""
    from kaminpar_spark.operators.kcore import core_numbers

    g, _ = _graph(spark, sf_dir)
    per = (
        core_numbers(g, rounds=CORE_ROUNDS)
        .groupBy("core")
        .agg(F.count("*").cast("long").alias("n_at_core"))
    )
    w = Window.orderBy(F.desc("core")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "core", "n_at_core", F.sum("n_at_core").over(w).cast("long").alias("core_ge_size")
    )


def _q_tool_usage_by_depth(spark, sf_dir):
    """Tool-call intensity vs conversation depth: per conversation length
    (n_turns), how many conversations exist and what share of their turns
    invoke a tool. Counts exact int64; ONE final division (round 6)."""
    from kaminpar_spark.sources.transcripts import synth_transcripts

    t = synth_transcripts(spark, _n_convs(spark, sf_dir))
    per_conv = t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool"),
    )
    return (
        per_conv.groupBy("n_turns")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.sum("n_tool").cast("long").alias("n_tool_turns"),
        )
        .select(
            F.col("n_turns").cast("long").alias("n_turns"),
            "n_convs",
            "n_tool_turns",
            F.round(
                1.0 * F.col("n_tool_turns") / (F.col("n_convs") * F.col("n_turns")), 6
            ).alias("tool_share"),
        )
    )


def _q_coactor_hist(spark, sf_dir):
    """Histogram of actor-pair co-appearance counts on the conv-actor
    incidence (the bipartite projection's weight distribution, power-of-2
    buckets) — how repetitive collaborations are. Same wedge kernel as the
    butterfly count."""
    from kaminpar_spark.sources.transcripts import (
        conv_actor_incidence,
        synth_transcripts,
    )

    n = _n_convs(spark, sf_dir)
    inc = conv_actor_incidence(synth_transcripts(spark, n), n)
    a, b = inc.alias("a"), inc.alias("b")
    pc = (
        a.join(b.hint("shuffle_hash"), F.col("a.conv_id") == F.col("b.conv_id"))
        .where(F.col("a.actor") < F.col("b.actor"))
        .groupBy(F.col("a.actor").alias("ra"), F.col("b.actor").alias("rb"))
        .agg(F.count("*").alias("cnt"))
    )
    return (
        pc.select(F.floor(F.log2("cnt")).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


ROBUST_KS = (0, 8, 32)


def _q_hub_robustness(spark, sf_dir):
    """Attack-robustness curve: remove the top-k hubs (degree desc, id asc
    — deterministic) and measure the surviving giant component, for k in
    ROBUST_KS. The resilience dashboard for an agent-tool network: how much
    connectivity rides on the few busiest actors. Each point is a hub
    anti-join + the standard CC_STEPS hash-to-min chain; k is a handful of
    scalars, so the per-k loop is driver-side control flow, not data
    movement."""
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.operators.components import connected_components

    g, _ = _graph(spark, sf_dir)
    deg = g.degrees().select("id", "degree")
    rows = []
    for k in ROBUST_KS:
        if k == 0:
            sub = g
        else:
            hubs = deg.orderBy(F.desc("degree"), F.asc("id")).limit(k).select("id")
            e = (
                g.edges.join(hubs.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(hubs.withColumnRenamed("id", "dst"), "dst", "left_anti")
            )
            n = g.nodes.join(hubs, "id", "left_anti")
            sub = GraphFrame(edges=e, nodes=n)
        cc = connected_components(sub, max_iters=CC_STEPS)
        agg = cc.groupBy("comp").agg(F.count("*").alias("sz")).agg(
            F.count("*").alias("n_components"),
            F.max("sz").alias("giant"),
            F.sum("sz").alias("n_nodes"),
        ).first()
        rows.append(
            (k, int(agg["n_nodes"]), int(agg["n_components"]), int(agg["giant"]))
        )
    return spark.createDataFrame(
        rows, "k_removed int, n_nodes long, n_components long, giant_size long"
    )


def _q_community_size_hist(spark, sf_dir):
    """Power-of-2 community-size histogram of the step-1 LP labels — the
    convergence-shape diagnostic (does LP collapse into a giant label or
    fragment?). bucket = floor(log2(size)); counts exact int64."""
    from kaminpar_spark.operators.labelprop import lp_step

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    labels = lp_step(g, state, semi_sync=False).select("id", "label")
    sizes = labels.groupBy("label").agg(F.count("*").alias("size"))
    return (
        sizes.select(F.floor(F.log2("size")).cast("int").alias("bucket"), "size")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_communities"),
            F.sum("size").cast("long").alias("n_members"),
        )
    )


def _q_degree_gini(spark, sf_dir):
    """Gini coefficient of the degree distribution — hub concentration in
    one number. Sorted-rank formulation G = (2*Σ r_i*d_i - (n+1)*Σd) /
    (n*Σd) with ranks 1..n by (degree, id): every term exact int64 via the
    scalable range-partitioned sort rank (ids.sorted_rank — no
    single-partition window), ONE final IEEE division (round 6)."""
    from kaminpar_spark.ids import sorted_rank

    g, _ = _graph(spark, sf_dir)
    deg = g.degrees().select("id", "degree")
    ranked = sorted_rank(deg, ["degree", "id"], out="r")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("degree").cast("long").alias("total_degree"),
        F.sum((F.col("r") + 1) * F.col("degree")).cast("long").alias("rd"),
    )
    return agg.select(
        "n_nodes",
        "total_degree",
        F.round(
            (2.0 * F.col("rd") - (F.col("n_nodes") + 1) * F.col("total_degree"))
            / (F.col("n_nodes") * F.col("total_degree")),
            6,
        ).alias("gini"),
    )


def _q_source_dup_rate(spark, sf_dir):
    """Per-source near-duplication rate: share of each source's documents
    that sit in a non-singleton MinHash near-dup cluster — the contamination
    dashboard a corpus curator watches per ingest feed. Counts exact int64,
    one final division (round 6)."""
    from kaminpar_spark.functions.pipeline import near_dup_clusters

    docs = _load(spark, sf_dir, "documents")
    clusters = near_dup_clusters(
        docs, threshold=MINHASH_THRESH, num_hashes=MINHASH_K, bands=MINHASH_BANDS,
    )
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("csz"))
    j = (
        clusters.join(sizes.hint("shuffle_hash"), "cluster_id")
        .join(docs.select("doc_id", "source").hint("shuffle_hash"), "doc_id")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("csz") >= 2).cast("long")).cast("long").alias("n_near_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_near_dup",
            F.round(1.0 * F.col("n_near_dup") / F.col("n_docs"), 6).alias("dup_share"),
        )
    )


def _q_dedup_keep_best(spark, sf_dir):
    """Keep-one-per-cluster dedup decision: MinHash near-dup clusters ->
    struct-max representative by (longest n_chars, lowest doc_id) ->
    (cluster_id, kept_doc, n_members, n_dropped). Non-trivial clusters only
    (singletons carry no decision)."""
    from kaminpar_spark.functions.pipeline import dedup_keep_best

    return dedup_keep_best(
        _load(spark, sf_dir, "documents"),
        threshold=MINHASH_THRESH, num_hashes=MINHASH_K, bands=MINHASH_BANDS,
    ).where(F.col("n_members") >= 2)


def _q_clique_percolation(spark, sf_dir):
    """k=3 clique-percolation communities (Palla CPM restricted to
    triangles): hash-to-min + path-halving CC (TRI_CC_STEPS fixed
    supersteps) over the triangle-edge adjacency graph keyed by canonical
    edge keys a*n + b (operators/triangles.triangle_communities). One row
    per triangle-participating edge with its community label."""
    from kaminpar_spark.operators.triangles import triangle_communities

    g, _ = _graph(spark, sf_dir)
    return triangle_communities(g, max_iters=TRI_CC_STEPS)


def _q_partition_agreement(spark, sf_dir):
    """Exact pair-counting Adjusted Rand Index between two independent
    community methods on the same graph — one synchronous LP step vs the
    LOUVAIN_ROUNDS-step Louvain level. Everything but the one final IEEE
    division is int64 (doubled pair counts s2/a2/b2/t2), so community-method
    AGREEMENT itself is hash-checked, not just eyeballed. All hash
    aggregates; contingency bounded by the node table."""
    from kaminpar_spark.operators.labelprop import lp_step
    from kaminpar_spark.operators.louvain import louvain_level
    from kaminpar_spark.operators.metrics import pair_counting_agreement

    g, _ = _graph(spark, sf_dir)
    state = g.nodes.select("id", F.col("id").alias("label"), "weight")
    lp = lp_step(g, state, semi_sync=False).select("id", "label")
    lv = louvain_level(g, g.total_edge_weight(), rounds=LOUVAIN_ROUNDS).select(
        "id", F.col("comm").alias("label")
    )
    return pair_counting_agreement(lp, lv)


PV_K = 4
PV_EPS = 0.03


# one nonce per process: the Spark side and its oracle share it, a snapshot
# left behind by any other run never does
_PV_RUN_NONCE = uuid.uuid4().hex[:12]


def _partition_snapshot_path(sf_name: str) -> str:
    """Shared Spark/DuckDB location of the partition_verify (id, block)
    snapshot — keyed by the sf under test and this run's nonce, so checks at
    different scales don't collide and the oracle can only read the
    snapshot written by the Spark side of the same run (a missing snapshot
    fails the oracle instead of a stale one passing it)."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"kaminpar_partition_verify_{sf_name}_{_PV_RUN_NONCE}.parquet",
    )


def _q_partition_verify(spark, sf_dir):
    """End-to-end FLAGSHIP check (apps/tools/verify_partition.cc:13-38
    analog; VERDICT r4 item 6): run the seeded deep multilevel partitioner,
    snapshot (id, block) to parquet, and recompute cut / max block weight /
    feasibility FROM THE SNAPSHOT — the oracle recomputes the same metrics
    from the same snapshot in DuckDB, so the headline partitioner's actual
    output is driver-hash-checked, not just pytest-covered. The snapshot is
    written eagerly here; the oracle (run after the Spark side, as the
    driver and scripts/check_oracle.py both do) reads it."""
    from kaminpar_spark.functions import rules
    from kaminpar_spark.plans.partitioner import Partitioner

    g, _ = _graph(spark, sf_dir)
    res = Partitioner(g, spark, seed=42).partition(PV_K, PV_EPS)
    snap = _partition_snapshot_path(os.path.basename(os.path.normpath(sf_dir)))
    (
        res.partition.select("id", F.col("block").cast("long").alias("block"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(snap)
    )
    atexit.register(shutil.rmtree, snap, True)
    part = spark.read.parquet(snap)

    tw = g.total_node_weight()
    cap = rules.max_block_weight(tw, PV_K, PV_EPS, g.max_node_weight())
    ps = part.select(F.col("id").alias("src"), F.col("block").alias("bs"))
    pd_ = part.select(F.col("id").alias("dst"), F.col("block").alias("bd"))
    cut = (
        g.edges.join(ps, "src")
        .join(pd_, "dst")
        .select(
            F.when(F.col("bs") != F.col("bd"), F.col("weight"))
            .otherwise(F.lit(0))
            .alias("c")
        )
        .agg((F.sum("c") / 2).cast("long").alias("cut"))
    )
    bw = (
        g.nodes.join(part, "id")
        .groupBy("block")
        .agg(F.sum("weight").alias("w"))
        .agg(
            F.max("w").cast("long").alias("max_block_weight"),
            F.count("*").cast("long").alias("n_blocks"),
        )
    )
    return cut.crossJoin(bw).select(  # 1-row x 1-row
        F.lit(PV_K).cast("long").alias("k"),
        F.lit(tw).cast("long").alias("total_weight"),
        "cut",
        "max_block_weight",
        "n_blocks",
        (F.col("max_block_weight") <= F.lit(cap)).alias("feasible"),
    )


def _q_retention_cohorts(spark, sf_dir):
    """Weekly cohort-retention matrix over the events table: cohort = epoch
    week of each user's first event; cells count users active k weeks later
    (functions/events.retention_cohorts). Distinct + three hash aggregates;
    the raw log collapses to (user, week) before anything else touches it."""
    from kaminpar_spark.functions.events import retention_cohorts

    return retention_cohorts(_load(spark, sf_dir, "events"))


def _q_event_bursts(spark, sf_dir):
    """Per-type burst detection over hourly buckets: burst_num = n*TRAIL −
    sum of the previous TRAIL observed buckets, exact int64
    (functions/events.burst_scores). The window runs over bucketed counts
    (hours × types), never the raw log."""
    from kaminpar_spark.functions.events import burst_scores

    return burst_scores(
        _load(spark, sf_dir, "events"), bucket="hour", trail=BURST_TRAIL
    )


def _q_leiden_refine(spark, sf_dir):
    """Leiden-style refinement of the Louvain level: Louvain's known defect
    is internally-DISCONNECTED communities (a badly-ordered move can leave a
    community whose members aren't mutually reachable inside it); Leiden's
    core fix is to split every community into its connected pieces. Here:
    hash-to-min CC over the community-induced edge subset (same-comm edges
    only), refined = min node id within (comm ∩ component). Nodes with no
    intra-community edge stay singletons. Both stages are this engine's own
    green kernels; the subgraph filter is one semi-join-shaped edge pass."""
    from kaminpar_spark.operators.louvain import louvain_level, refine_disconnected

    g, _ = _graph(spark, sf_dir)
    labels = louvain_level(g, g.total_edge_weight(), rounds=LOUVAIN_ROUNDS)
    return refine_disconnected(g, labels, max_iters=CC_STEPS)


def _q_tie_overlap(spark, sf_dir):
    """Granovetter/Onnela tie-strength structure: per canonical edge the
    common-neighbor count (truss-family edge_support kernel) and the
    neighborhood overlap O = |N(a)∩N(b)| / (|N(a)|+|N(b)|−2−|N(a)∩N(b)|)
    (Onnela et al. 2007). overlap = 0 identifies LOCAL BRIDGES (span > 2,
    the weak ties that shortcut communities); this transcript graph has none
    — every tie is embedded — which is itself the measured finding. Exact
    int64 counts + one final IEEE ratio."""
    from kaminpar_spark.operators.truss import canonical_edges, edge_support

    g, _ = _graph(spark, sf_dir)
    sup = edge_support(canonical_edges(g))
    deg = g.degrees().select("id", F.col("degree").cast("long").alias("d"))
    den = F.col("d_a") + F.col("d_b") - 2 - F.col("support")
    return (
        sup.join(
            deg.select(F.col("id").alias("a"), F.col("d").alias("d_a")).hint(
                "shuffle_hash"
            ),
            "a",
        )
        .join(
            deg.select(F.col("id").alias("b"), F.col("d").alias("d_b")).hint(
                "shuffle_hash"
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "support",
            "d_a",
            "d_b",
            F.when(den <= 0, F.lit(0.0))
            .otherwise(F.round(F.col("support").cast("double") / den, 6))
            .alias("overlap"),
        )
    )


def _q_lang_confusion(spark, sf_dir):
    """Classifier-evaluation confusion matrix: the stopword-hit language-ID
    prediction against the corpus ground-truth lang column — per
    (lang_true, lang_pred) exact counts. The quality-eval surface the
    language gate needs before anyone trusts it at corpus scale."""
    from kaminpar_spark.functions.text import language_id

    docs = _load(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred.hint("shuffle_hash"), "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _q_tool_predictability(spark, sf_dir):
    """Markov predictability per tool: the most likely next tool and its
    transition share from the tool_transitions counts (argmax by count,
    ties to the lexicographically first tool). The window runs over at most
    |tools| rows per key — never data-scale."""
    from kaminpar_spark.sources.transcripts import synth_transcripts, tool_transitions

    tt = tool_transitions(synth_transcripts(spark, _n_convs(spark, sf_dir)))
    tot = tt.groupBy("src_tool").agg(F.sum("n").cast("long").alias("n_total"))
    w = Window.partitionBy("src_tool").orderBy(F.desc("n"), F.asc("dst_tool"))
    top = (
        tt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "src_tool",
            F.col("dst_tool").alias("top_next"),
            F.col("n").cast("long").alias("top_n"),
        )
    )
    return top.join(tot, "src_tool").select(
        "src_tool",
        "top_next",
        "top_n",
        "n_total",
        F.round(F.col("top_n").cast("double") / F.col("n_total"), 6).alias(
            "top_share"
        ),
    )


def _q_mean_shift(spark, sf_dir):
    """Offline changepoint per event type: the bucket boundary maximizing the
    exact two-segment mean shift over hourly counts
    (functions/events.mean_shift_splits). Prefix sums over the bucketed
    series only — never the raw log."""
    from kaminpar_spark.functions.events import mean_shift_splits

    return mean_shift_splits(_load(spark, sf_dir, "events"), bucket="hour")


def _q_ivf_filtered(spark, sf_dir):
    """Attribute-filtered ("hybrid") IVF ANN: same standing index, candidates
    pre-filtered in the cell scan to the query's label class before any
    exact cosine — the semantics a post-filter of an unfiltered top-k gets
    wrong (filtered-out rows squat the k slots)."""
    from kaminpar_spark.functions.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=10,
        num_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
        filter_col="label",
    )


def _q_tool_affinity(spark, sf_dir):
    """Market-basket tool affinity: support + lift over tools co-used within
    a conversation (sources/transcripts.tool_affinity). Lift > 1 = composite
    workflows, < 1 = substitutes. Basket self-join keyed per conversation —
    linear at corpus scale."""
    from kaminpar_spark.sources.transcripts import synth_transcripts, tool_affinity

    return tool_affinity(synth_transcripts(spark, _n_convs(spark, sf_dir)))


def _q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout keys over (user_id, epoch-day) — the lakehouse
    OPTIMIZE ZORDER analog: range-sorting by z_key gives every file a tight
    2-D bounding box so min/max stats prune user+time predicates
    (plans/layout.zorder_layout). Pure bit arithmetic, map-only."""
    from kaminpar_spark.plans.layout import zorder_layout

    ev = _load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    return zorder_layout(ev, "user_id", "day", "event_id")


def _q_dau_wau(spark, sf_dir):
    """Daily/weekly active users + DAU/WAU stickiness per epoch day
    (functions/events.dau_wau). The 7-day trailing range join runs over the
    collapsed distinct (user, day) table with a broadcast day list."""
    from kaminpar_spark.functions.events import dau_wau

    return dau_wau(_load(spark, sf_dir, "events"))


def _q_ngram_containment(spark, sf_dir):
    """Asymmetric containment near-dups |A∩B|/min(|A|,|B|) over exact shingle
    sets — catches doc-inclusion duplication Jaccard misses. Rare-shingle
    (df <= CONTAIN_DF_CAP) posting-list candidates, exact verify
    (functions/dedup.containment_pairs)."""
    from kaminpar_spark.functions.dedup import containment_pairs

    return containment_pairs(
        _load(spark, sf_dir, "documents"),
        threshold=CONTAIN_THRESH, df_cap=CONTAIN_DF_CAP,
    )


def _q_group_split(spark, sf_dir):
    """Leakage-safe train/test split: near-dup cluster members always land in
    the same split because the Lehmer-mixed hash gate keys on the canonical
    cluster id (functions/pipeline.group_split). The oracle evaluates the
    identical polynomial hash over the recursive-CTE cluster closure."""
    from kaminpar_spark.functions.pipeline import group_split

    return group_split(
        _load(spark, sf_dir, "documents"),
        test_share=GROUP_SPLIT_TEST,
        threshold=MINHASH_THRESH, num_hashes=MINHASH_K, bands=MINHASH_BANDS,
    )


def _q_null_model(spark, sf_dir):
    """Configuration-model null diagnostic: Molloy-Reed <d^2>/<d>, the
    degree-sequence triangle expectation, and observed/expected closure
    (operators/stats.null_model_stats). Exact int64 degree sums + the
    degree-oriented triangle count; three final IEEE ratios."""
    from kaminpar_spark.operators.stats import null_model_stats

    g, _ = _graph(spark, sf_dir)
    return null_model_stats(g)


def _q_readability(spark, sf_dir):
    """Flesch reading-ease with exact integer word / sentence-run /
    vowel-group counts and the one final IEEE formula rounded to 6
    (functions/text.readability_scores). Map-only quality gate."""
    from kaminpar_spark.functions.text import readability_scores

    return readability_scores(_load(spark, sf_dir, "documents"))


BM25_QUERIES = [(1, "spark join merge"), (2, "customer filter window"), (3, "vector hash")]
BM25_K, BM25_K1, BM25_B = 5, 1.2, 0.75
DSIR_TARGET_SOURCE = "src0"
SEMDEDUP_THRESH = 0.3


def _q_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval for a fixed 3-query set (functions/text.
    bm25_topk): broadcast query terms prune the corpus postings before the
    tf/df aggregates; per-(q,doc,term) weights land on the integer 1e6
    lattice before the order-free per-doc sum; Spark 4's window group-limit
    keeps the per-query top-k partial."""
    from kaminpar_spark.functions.text import bm25_topk

    q = spark.createDataFrame(BM25_QUERIES, "query_id long, qtext string")
    return bm25_topk(
        _load(spark, sf_dir, "documents"), q, k=BM25_K, k1=BM25_K1, b=BM25_B
    )


def _q_bigram_surprisal(spark, sf_dir):
    """Conditional bigram surprisal on the exact integer-log2 lattice
    (functions/text.bigram_surprisal_scores): sequence-predictability quality
    gate — floor(log2(c(w1) div c(w1,w2))) summed per document."""
    from kaminpar_spark.functions.text import bigram_surprisal_scores

    return bigram_surprisal_scores(_load(spark, sf_dir, "documents"))


BPE_ROUNDS = 4


def _q_bpe_learn(spark, sf_dir):
    """Distributed BPE tokenizer training (functions/bpe.bpe_learn): corpus →
    (word, freq) dictionary once, then per merge round one adjacent-pair
    explode + hash aggregate, a 1-row argmax, and a map-only greedy JVM fold.
    Returns the learned merge table with post-merge corpus token counts."""
    from kaminpar_spark.functions.bpe import bpe_learn

    return bpe_learn(_load(spark, sf_dir, "documents"), rounds=BPE_ROUNDS)


def _q_bpe_tokenize(spark, sf_dir):
    """Train-then-tokenize end-to-end (functions/bpe.bpe_apply): learn
    BPE_ROUNDS merges, apply them corpus-wide with the map-only fold chain
    (zero shuffles in the apply stage), return per-doc BPE token counts."""
    from kaminpar_spark.functions.bpe import bpe_apply, bpe_learn

    docs = _load(spark, sf_dir, "documents")
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_learn(docs, rounds=BPE_ROUNDS).collect()
    ]
    return bpe_apply(docs, merges).select(
        "doc_id", F.size("toks").cast("long").alias("n_bpe_tokens")
    )


def _q_dsir_weights(spark, sf_dir):
    """DSIR-shaped importance-resampling weights (functions/text.
    dsir_weights): hashed-bigram features, target = the src0 slice, exact
    integer floor-log2 count ratios, one final IEEE division per doc."""
    from kaminpar_spark.functions.text import dsir_weights

    docs = _load(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.where(F.col("source") == DSIR_TARGET_SOURCE))


DSIR_SELECT_FRAC = 0.25


def _q_dsir_select(spark, sf_dir):
    """DSIR selection stage (functions/pipeline.dsir_select): top 25% of the
    corpus by importance weight via the scalable global sort-rank."""
    from kaminpar_spark.functions.pipeline import dsir_select

    docs = _load(spark, sf_dir, "documents")
    return dsir_select(
        docs, docs.where(F.col("source") == DSIR_TARGET_SOURCE), frac=DSIR_SELECT_FRAC
    )


def _weak_tie_subgraph(spark, sf_dir):
    """Weight-1 ('weak tie') subgraph of the transcript graph — sparse enough
    to have real cut edges (the full graph is hub-dense and bridgeless)."""
    from kaminpar_spark.graph import GraphFrame

    g, _ = _graph(spark, sf_dir)
    w1 = g.edges.where(F.col("weight") == 1)
    nodes = (
        w1.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.lit(1).cast("long").alias("weight"))
    )
    return GraphFrame(edges=w1, nodes=nodes)


def _q_bridges(spark, sf_dir):
    """Bridge (cut-edge) detection on the weak-tie subgraph (operators/
    bridges.bridges): BFS spanning forest + deterministic XOR-tag subtree
    sketch, O(depth) supersteps — Granovetter's weak ties as literal cut
    edges of the collaboration graph."""
    from kaminpar_spark.operators.bridges import bridges

    return bridges(_weak_tie_subgraph(spark, sf_dir))


def _q_two_edge_components(spark, sf_dir):
    """2-edge-connected component labels of the weak-tie subgraph: CC of the
    graph minus its bridges (operators/bridges.two_edge_components)."""
    from kaminpar_spark.operators.bridges import two_edge_components

    return two_edge_components(_weak_tie_subgraph(spark, sf_dir))


def _q_articulation_points(spark, sf_dir):
    """Cut vertices of the weak-tie subgraph (operators/bridges.
    articulation_points): Tarjan–Vishkin auxiliary-graph biconnectivity over
    the BFS forest — subtree low/high aggregates in O(depth) supersteps, aux
    CC via hash-to-min, zero per-row Python."""
    from kaminpar_spark.operators.bridges import articulation_points

    return articulation_points(_weak_tie_subgraph(spark, sf_dir))


def _q_biconnected_blocks(spark, sf_dir):
    """Biconnected-block label per canonical weak-tie edge (operators/
    bridges.biconnected_components) — bridges fall out as singleton blocks,
    articulation points as vertices spanning >= 2 labels."""
    from kaminpar_spark.operators.bridges import biconnected_components

    return biconnected_components(_weak_tie_subgraph(spark, sf_dir))


def _q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (functions/similarity.semdedup):
    exact-lattice k-means cells bound the pairwise stage; prune every vector
    with a higher-similarity twin of smaller id; keep flag per vector."""
    from kaminpar_spark.functions.similarity import semdedup

    # k omitted -> the LIBRARY's scale default (semdedup_auto_k: k ~ n/1024,
    # max_cell_size armed) is what the oracle checks; at the correctness
    # gate's fixed sf0.01 corpus (500 vectors) auto-k resolves to 2, which
    # the static unrolled oracle mirrors (_semdedup_sql).
    return semdedup(
        _load(spark, sf_dir, "embeddings"),
        iters=KMEANS_ITERS,
        threshold=SEMDEDUP_THRESH,
        dim=EMB_DIM,
    )


# ---- round-5 driver-verification window (first 50 of queries()): the
# never-driver-verified backlog, oldest-position first (VERDICT r4 item 1:
# registry positions 51+ were teed up never-verified-first), plus the three
# entries that MUST re-earn a green row this round: partition_verify (new,
# VERDICT item 6 — the flagship partitioner's first driver row),
# capped_neighbors (implementation replaced by the hub-safe hash-threshold
# shape, VERDICT item 2), and balance_round_skew (admission rewritten to the
# grouped gain-bucket shape after the skew bench measured the per-mover
# window at 6.81 max/p50, VERDICT item 7). 49 never-verified entries remain
# in the backlog (positions 51-99), ALL pre-validated by
# scripts/check_oracle.py this round.
_R5_WINDOW = [
    "partition_verify",
    "capped_neighbors",
    "ssjoin_prefix",
    "seeded_labels3",
    "rank_movers",
    "rich_club",
    "wl_quotient",
    "oov_rate",
    "zipf_profile",
    "surprisal_scores",
    "cohesion_chunks",
    "vocab_growth",
    "edge_churn",
    "rectangles",
    "two_hop_reach",
    "anf_rank_hist3",
    "weighted_jaccard",
    "bipartite_check12",
    "response_latency",
    "lpa_warm",
    "resource_alloc",
    "assortativity",
    "role_assortativity",
    "truss_edges5",
    "harmonic4",
    "diameter_sweep",
    "jp_colors6",
    "luby_mis6",
    "hem_matching3",
    "hits3",
    "salsa",
    "butterflies",
    "char_diversity",
    "random_walks4",
    "walk_contexts",
    "cooc_stats",
    "node2vec_walks4",
    "conductance_mod4",
    "graph_summary",
    "domain_mix",
    "comm_volume_mod4",
    "stratified_sample",
    "pack_sequences",
    "source_filter",
    "tfidf_top_terms",
    "ngram_topk",
    "pii_scrub",
    "repetition_stats",
    "event_props_agg",
    "balance_round_skew",
]

# Backlog head (positions 51+): the still-never-driver-verified queries, in
# rotation order, so any future window lifts them first. funnel_counts was
# displaced from the window when balance_round_skew's implementation changed
# (grouped admission, BENCH/SKEW.md fix) and had to re-earn a green row.
_R5_BACKLOG_HEAD = [
    "funnel_counts",
    "onion_layers6",
    "vertex_cut16",
    "bandwidth_orders",
    "score_peel8",
    "pagerank_recency5",
    "msf_bounded",
    "anf_ranks3",
    "hop_plot3",
    "ktruss4_round2",
    "backbone2",
    "pagerank_directed4",
    "densest_peel6",
    "four_cliques",
    "triad_census",
    "clique_percolation8",
    "clustering_spectrum",
    "knn_spectrum",
    "pagerank_by_role",
    "degree_gini",
    "community_size_hist",
    "hub_robustness",
    "tool_usage_by_depth",
    "core_profile",
    "pagerank_gini",
    "tool_stats",
    "ppr_sweep",
    "coactor_hist",
    "source_dup_rate",
    "partition_agreement",
    "retention_cohorts",
    "event_bursts",
    "readability",
    "group_split",
    "null_model",
    "ngram_containment",
    "leiden_refine",
    "tie_overlap",
    "dau_wau",
    "zorder_layout",
    "tool_affinity",
    "ivf_filtered_topk",
    "mean_shift",
    "lang_confusion",
    "tool_predictability",
    "bridges_weak",
    "two_edge_comps",
    "articulation_points",
    "biconnected_blocks",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _queries_literal()
    head = _R5_WINDOW + _R5_BACKLOG_HEAD
    missing = [n for n in head if n not in q]
    assert not missing, f"rotation references unknown queries: {missing}"
    rest = {k: v for k, v in q.items() if k not in set(head)}
    return {**{k: q[k] for k in head}, **rest}


def _queries_literal() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ---- registry in round-4 literal order; the rotation (window +
        # backlog head) is applied by queries() from _R5_WINDOW /
        # _R5_BACKLOG_HEAD above. Policy + last-green stamps: COVERAGE.md.
        "partition_verify": _q_partition_verify,
        "nbr_mean_features": _q_nbr_mean,
        "csr_blocks4": _q_csr_blocks,
        "lp_step1": _q_lp_step1,
        "lp_capped_step": _q_lp_capped_step,
        "lp_hardcap_step": _q_lp_hardcap_step,
        "contraction_edges": _q_contraction_edges,
        "contraction_nodes": _q_contraction_nodes,
        "edge_cut_mod4": _q_edge_cut_mod4,
        "block_weights_mod4": _q_block_weights_mod4,
        "kcore_peel8": _q_kcore_peel8,
        "isolated_rescale": _q_isolated_rescale,
        "subgraph_block0": _q_subgraph_block0,
        "degree_permutation": _q_degree_permutation,
        "capped_neighbors": _q_capped_neighbors,
        "balance_round_skew": _q_balance_round,
        "minhash_near_dups": _q_minhash_near_dups,
        "minhash_calibration20": _q_minhash_calibration,
        "minhash_ingest": _q_minhash_ingest,
        "simhash_near_dups": _q_simhash_near_dups,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "pq_topk": _q_pq_topk,
        "kmeans_cells2": _q_kmeans_cells,
        "lsh_recall": _q_lsh_recall,
        "ivf_recall": _q_ivf_recall,
        "pq_recall": _q_pq_recall,
        "sq8_topk": _q_sq8_topk,
        "sq8_recall": _q_sq8_recall,
        "embedding_near_dups": _q_embedding_near_dups,
        "semdedup2": _q_semdedup,
        "dedup_exact": _q_dedup_exact,
        "clean_corpus": _q_clean_corpus,
        "near_dup_clusters": _q_near_dup_clusters,
        "dedup_keep_best": _q_dedup_keep_best,
        "decontaminate": _q_decontaminate,
        "dup_windows8": _q_dup_windows,
        "strip_dup_spans8": _q_strip_dup_spans,
        "ngram_jaccard": _q_ngram_jaccard,
        "fingerprints": _q_fingerprints,
        "kmv_shingles": _q_kmv_shingles,
        "hll_shingles": _q_hll_shingles,
        "cms_tokens": _q_cms_tokens,
        "sage_sample32": _q_sage_sample,
        "feature_smooth2": _q_feature_smooth,
        "bpe_learn": _q_bpe_learn,
        "bpe_tokenize": _q_bpe_tokenize,
        "bm25_topk": _q_bm25_topk,
        "bigram_surprisal": _q_bigram_surprisal,
        "dsir_weights": _q_dsir_weights,
        "dsir_select": _q_dsir_select,
        # ---- rotation backlog: never-driver-verified first (r5 window
        #      candidates), then previously-green rows, oldest green first.
        "ssjoin_prefix": _q_ssjoin,
        "seeded_labels3": _q_seeded_labels,
        "rank_movers": _q_rank_movers,
        "rich_club": _q_rich_club,
        "wl_quotient": _q_wl_quotient,
        "oov_rate": _q_oov_rate,
        "zipf_profile": _q_zipf,
        "surprisal_scores": _q_surprisal,
        "cohesion_chunks": _q_cohesion_chunks,
        "vocab_growth": _q_vocab_growth,
        "edge_churn": _q_edge_churn,
        "rectangles": _q_rectangles,
        "two_hop_reach": _q_two_hop_reach,
        "anf_rank_hist3": _q_anf_rank_hist,
        "weighted_jaccard": _q_weighted_jaccard,
        "bipartite_check12": _q_bipartite_check,
        "response_latency": _q_response_latency,
        "lpa_warm": _q_lpa_warm,
        "resource_alloc": _q_resource_alloc,
        "assortativity": _q_assortativity,
        "role_assortativity": _q_role_assortativity,
        "truss_edges5": _q_truss_edges,
        "harmonic4": _q_harmonic,
        "diameter_sweep": _q_diameter,
        "jp_colors6": _q_jp_colors,
        "luby_mis6": _q_luby_mis,
        "hem_matching3": _q_hem_matching,
        "hits3": _q_hits,
        "salsa": _q_salsa,
        "butterflies": _q_butterflies,
        "char_diversity": _q_char_diversity,
        "random_walks4": _q_random_walks,
        "walk_contexts": _q_walk_contexts,
        "cooc_stats": _q_cooc_stats,
        "node2vec_walks4": _q_node2vec,
        "conductance_mod4": _q_conductance_mod4,
        "graph_summary": _q_graph_summary,
        "domain_mix": _q_domain_mix,
        "comm_volume_mod4": _q_comm_volume_mod4,
        "stratified_sample": _q_stratified_sample,
        "pack_sequences": _q_pack_sequences,
        "source_filter": _q_source_filter,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "ngram_topk": _q_ngram_topk,
        "pii_scrub": _q_pii_scrub,
        "repetition_stats": _q_repetition_stats,
        "event_props_agg": _q_event_props,
        "funnel_counts": _q_funnel,
        "onion_layers6": _q_onion_layers,
        "vertex_cut16": _q_vertex_cut,
        "bandwidth_orders": _q_bandwidth_orders,
        "score_peel8": _q_score_peel8,
        "pagerank_recency5": _q_pagerank_recency,
        "msf_bounded": _q_msf_bounded,
        "anf_ranks3": _q_anf_ranks,
        "hop_plot3": _q_hop_plot,
        "ktruss4_round2": _q_ktruss,
        "backbone2": _q_backbone,
        "pagerank_directed4": _q_pagerank_directed,
        "densest_peel6": _q_densest_peel,
        "four_cliques": _q_four_cliques,
        "triad_census": _q_triad_census,
        "clique_percolation8": _q_clique_percolation,
        "clustering_spectrum": _q_clustering_spectrum,
        "knn_spectrum": _q_knn_spectrum,
        "pagerank_by_role": _q_pagerank_by_role,
        "degree_gini": _q_degree_gini,
        "community_size_hist": _q_community_size_hist,
        "hub_robustness": _q_hub_robustness,
        "tool_usage_by_depth": _q_tool_usage_by_depth,
        "core_profile": _q_core_profile,
        "pagerank_gini": _q_pagerank_gini,
        "tool_stats": _q_tool_stats,
        "ppr_sweep": _q_ppr_sweep,
        "coactor_hist": _q_coactor_hist,
        "source_dup_rate": _q_source_dup_rate,
        "partition_agreement": _q_partition_agreement,
        "retention_cohorts": _q_retention_cohorts,
        "event_bursts": _q_event_bursts,
        "readability": _q_readability,
        "group_split": _q_group_split,
        "null_model": _q_null_model,
        "ngram_containment": _q_ngram_containment,
        "leiden_refine": _q_leiden_refine,
        "tie_overlap": _q_tie_overlap,
        "dau_wau": _q_dau_wau,
        "zorder_layout": _q_zorder_layout,
        "tool_affinity": _q_tool_affinity,
        "ivf_filtered_topk": _q_ivf_filtered,
        "mean_shift": _q_mean_shift,
        "lang_confusion": _q_lang_confusion,
        "tool_predictability": _q_tool_predictability,
        "bridges_weak": _q_bridges,
        "two_edge_comps": _q_two_edge_components,
        "articulation_points": _q_articulation_points,
        "biconnected_blocks": _q_biconnected_blocks,
        "lpa_modularity": _q_lpa_modularity,
        "adjacency_jaccard": _q_adjacency_jaccard,
        "token_counts": _q_token_counts,
        "text_quality": _q_text_quality,
        "embedding_topk": _q_embedding_topk,
        "windowed_event_counts": _q_windowed_events,
        "sessionized_events": _q_sessionized_events,
        "pagerank_weighted5": _q_pagerank_weighted5,
        "language_id": _q_language_id,
        "bpe_token_counts": _q_bpe_tokens,
        "media_features": _q_media_features,
        "frame_sample_plan": _q_frame_sample_plan,
        "core_hindex4": _q_core_hindex,
        "transcript_turns": _q_transcript_turns,
        "transcript_edges": _q_transcript_edges,
        "conv_stats": _q_conv_stats,
        "tool_transitions": _q_tool_transitions,
        "degrees": _q_degrees,
        "bfs_dist4": _q_bfs_dist,
        "sssp_dist4": _q_sssp_dist,
        "degree_buckets": _q_degree_buckets,
        "pagerank5": _q_pagerank5,
        "pagerank_warm": _q_pagerank_warm,
        "ppr5": _q_ppr5,
        "lcc": _q_lcc,
        "connected_components": _q_cc,
        "cc_incremental": _q_cc_incremental,
        "component_sizes": _q_component_sizes,
        "digraph_stats": _q_digraph_stats,
        "scc": _q_scc,
        "bowtie": _q_bowtie,
        "condensation_levels": _q_condensation,
        "brandes_stress4": _q_brandes_stress,
        "louvain_moves4": _q_louvain_moves,
        "louvain_modularity": _q_louvain_modularity,
        "katz3": _q_katz,
        "temporal_reach6": _q_temporal_reach,
        "temporal_triangles60": _q_temporal_triangles,
        "landmark_est4": _q_landmark_est,
        "cascade_k2": _q_cascade,
        "eigenvector3": _q_eigenvector,
        "spectral_scores3": _q_spectral_scores,
        "spectral_cut3": _q_spectral_cut,
        "cc_profile4": _q_cc_profile,
        "role_mix": _q_role_mix,
        "repeat_contacts": _q_repeat_contacts,
        "attributed_purchases": _q_attributed_purchases,
        "event_rollup": _q_event_rollup,
        "actor_churn": _q_actor_churn,
        "triangle_count": _q_triangle_count,
        "triangles_incremental": _q_triangles_incremental,
        "transitivity": _q_transitivity,
        "snm_candidates": _q_snm_candidates,
        "wl_classes2": _q_wl_classes,
        "ego_density": _q_ego_density,
        "curriculum_batches": _q_curriculum,
        "edge_stress4": _q_edge_stress,
        "gn_split": _q_gn_split,
        "cycle_stats": _q_cycle_stats,
        "linkpred_negatives": _q_linkpred_negatives,
        "linkpred_training": _q_linkpred_training,
    }


# --------------------------------------------------------------------- oracle SQL
# Shared CTE prefix: arithmetic transcript synthesis + actor edge derivation,
# mirroring kaminpar_spark.sources.transcripts exactly.
_TRANSCRIPTS_CTE = """
conv AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS c FROM orders),
turns AS MATERIALIZED (SELECT c, unnest(range(4 + (c % 9))) AS t FROM conv),
transcripts AS MATERIALIZED (
  SELECT
    'conv_' || lpad(CAST(c AS VARCHAR), 8, '0') AS conv_id,
    CAST(t AS INT) AS turn_idx,
    CASE WHEN t % 3 = 0 THEN 'user'
         WHEN t % 3 = 1 THEN 'assistant' ELSE 'tool' END AS role,
    'm_' || CAST(c AS VARCHAR) || '_' || CAST(t AS VARCHAR) AS text,
    CASE WHEN t % 3 = 2 THEN 'tool_' || CAST(
      CASE WHEN ((c*31 + t*17) % 20) % 4 = 0 THEN (c*31 + t*17) % 20
           ELSE ((c*31 + t*17) % 20) % 3 END AS VARCHAR) END AS tool,
    TIMESTAMP '2024-01-01 00:00:00' + (c*1000 + t*10) * INTERVAL 1 SECOND AS ts,
    c, t
  FROM turns)
"""

_EDGES_CTE = (
    _TRANSCRIPTS_CTE
    + """,
actor_turns AS MATERIALIZED (
  SELECT conv_id, turn_idx, CAST(epoch(ts) AS BIGINT) AS ts_s,
    CASE WHEN role = 'user' THEN 'user_' || CAST(c % greatest(1, (SELECT count(*) // 4 FROM orders)) AS VARCHAR)
         WHEN role = 'assistant' THEN 'agent_' || CAST(c % 7 AS VARCHAR)
         ELSE tool END AS actor
  FROM transcripts),
links AS MATERIALIZED (
  SELECT lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
         actor AS a_dst
  FROM actor_turns
  QUALIFY a_src IS NOT NULL AND a_src <> a_dst),
nodes AS MATERIALIZED (
  SELECT actor, CAST(dense_rank() OVER (ORDER BY actor) - 1 AS BIGINT) AS id
  FROM (SELECT a_src AS actor FROM links UNION SELECT a_dst FROM links)),
pairs AS MATERIALIZED (
  SELECT ns.id AS src, nd.id AS dst
  FROM links JOIN nodes ns ON links.a_src = ns.actor
             JOIN nodes nd ON links.a_dst = nd.actor),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
  FROM (SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs)
  GROUP BY src, dst),
deg AS MATERIALIZED (
  SELECT n.id,
         CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
         CAST(coalesce(d.wdeg, 0) AS BIGINT) AS weighted_degree
  FROM nodes n LEFT JOIN (
    SELECT src AS id, count(*) AS degree, sum(weight) AS wdeg FROM edges GROUP BY src) d
  ON n.id = d.id)
"""
)


def _diameter_sql() -> str:
    """Two unrolled BFS chains; the second seeded by the first sweep's
    peripheral node (ORDER BY dist DESC, id LIMIT 1 = the engine's
    deterministic tie-break)."""

    def chain(tag: str, src_expr: str) -> tuple[str, str]:
        prev = f"{tag}0"
        s = f""",
{tag}0 AS (SELECT id, CASE WHEN id = ({src_expr}) THEN CAST(0 AS BIGINT) END AS dist FROM nodes)"""
        for i in range(1, DIAM_HOPS + 1):
            s += f""",
{tag}{i} AS MATERIALIZED (
  SELECT a.id,
         CASE WHEN a.dist IS NULL THEN m.nd WHEN m.nd IS NULL THEN a.dist
              ELSE least(a.dist, m.nd) END AS dist
  FROM {prev} a LEFT JOIN (
    SELECT e.dst AS id, MIN(r.dist + 1) AS nd
    FROM edges e JOIN {prev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY e.dst) m ON a.id = m.id)"""
            prev = f"{tag}{i}"
        return s, prev

    c1, last1 = chain("da", "0")
    c2, last2 = chain("db", "SELECT peripheral FROM per")
    return f"""WITH {_EDGES_CTE}{c1},
per AS (SELECT id AS peripheral FROM {last1} WHERE dist IS NOT NULL
        ORDER BY dist DESC, id LIMIT 1){c2}
SELECT (SELECT peripheral FROM per) AS peripheral,
       CAST(max(dist) AS BIGINT) AS diameter_lb
FROM {last2} WHERE dist IS NOT NULL"""


_BUTTERFLIES_SQL = f"""WITH {_EDGES_CTE},
inc AS (SELECT DISTINCT conv_id, actor FROM actor_turns),
pc AS (SELECT a.actor AS r_a, b.actor AS r_b, count(*) AS cnt
       FROM inc a JOIN inc b ON a.conv_id = b.conv_id AND a.actor < b.actor
       GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS co_pairs,
       CAST(sum(cnt) AS BIGINT) AS wedge_pairs,
       CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS butterflies
FROM pc"""


_CHAR_DIVERSITY_SQL = """
WITH ex AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
cnts AS (SELECT doc_id, ch, count(*) AS c FROM ex WHERE ch <> '' GROUP BY doc_id, ch),
per AS (SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS distinct_chars,
               CAST(sum(c * c) AS BIGINT) AS sq
        FROM cnts GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(p.n_chars, 0) AS n_chars,
       coalesce(p.distinct_chars, 0) AS distinct_chars,
       CASE WHEN p.n_chars > 0
            THEN round(1.0 - CAST(p.sq AS DOUBLE) / (p.n_chars * p.n_chars), 6)
       END AS simpson
FROM documents d LEFT JOIN per p USING (doc_id)"""


def _harmonic_sql() -> str:
    """Unrolled multi-source min-relaxation + lcm-scaled harmonic sum,
    mirroring operators.paths.multi_source_distances/harmonic_centrality."""
    import math

    scale = math.lcm(*range(1, BFS_HOPS + 1))
    prev = "m0"
    steps = ""
    for i in range(1, BFS_HOPS + 1):
        steps += f""",
m{i} AS MATERIALIZED (
  SELECT a.src, a.id,
         CASE WHEN a.dist IS NULL THEN c.nd WHEN c.nd IS NULL THEN a.dist
              ELSE least(a.dist, c.nd) END AS dist
  FROM {prev} a LEFT JOIN (
    SELECT r.src, e.dst AS id, MIN(r.dist + 1) AS nd
    FROM edges e JOIN {prev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY r.src, e.dst) c
  ON a.src = c.src AND a.id = c.id)"""
        prev = f"m{i}"
    return f"""WITH {_EDGES_CTE},
srcs AS (SELECT id AS src FROM nodes WHERE id % {HARMONIC_SRC_MOD} = 0),
m0 AS (SELECT s.src, n.id,
              CASE WHEN n.id = s.src THEN CAST(0 AS BIGINT) END AS dist
       FROM nodes n CROSS JOIN srcs s){steps}
SELECT id, round(sum({scale} // dist) / {float(scale)}, 6) AS harmonic
FROM {prev} WHERE dist > 0 GROUP BY id"""


def _jp_sql() -> str:
    """Unrolled Jones-Plassmann rounds mirroring operators.coloring.jp_round
    (hash priorities, collision-free key, smallest absent color)."""
    from kaminpar_spark.operators.coloring import COLOR_PRI_A, COLOR_PRI_B
    from kaminpar_spark.functions.hashing import POLY_MOD

    steps = ""
    prev = "st0"
    for r in range(1, JP_ROUNDS + 1):
        steps += f""",
un{r} AS (SELECT id, pri * {1 << 31} + id AS k FROM {prev} WHERE color IS NULL),
nbmax{r} AS (SELECT e.dst AS id, max(u.k) AS nb_k
             FROM edges e JOIN un{r} u ON e.src = u.id GROUP BY e.dst),
win{r} AS (SELECT u.id FROM un{r} u LEFT JOIN nbmax{r} m ON u.id = m.id
           WHERE m.nb_k IS NULL OR u.k > m.nb_k),
used{r} AS (SELECT e.dst AS id, list(DISTINCT s.color) AS used
            FROM edges e JOIN {prev} s ON e.src = s.id
            WHERE s.color IS NOT NULL GROUP BY e.dst),
asg{r} AS (SELECT w.id,
             list_min(list_filter(range(0, coalesce(len(u.used), 0) + 1),
                      x -> NOT list_contains(coalesce(u.used, CAST([] AS BIGINT[])), x)))
               AS new_color
           FROM win{r} w LEFT JOIN used{r} u ON w.id = u.id),
st{r} AS MATERIALIZED (
  SELECT s.id, s.pri, coalesce(s.color, a.new_color) AS color
  FROM {prev} s LEFT JOIN asg{r} a ON s.id = a.id)"""
        prev = f"st{r}"
    return f"""WITH {_EDGES_CTE},
st0 AS (SELECT id, ({COLOR_PRI_A} * id + {COLOR_PRI_B}) % {POLY_MOD} AS pri,
               CAST(NULL AS BIGINT) AS color FROM nodes){steps}
SELECT id, CAST(color AS BIGINT) AS color FROM {prev}"""


def _luby_sql() -> str:
    """Unrolled Luby MIS rounds mirroring operators.coloring.luby_mis_round."""
    from kaminpar_spark.operators.coloring import COLOR_PRI_A, COLOR_PRI_B
    from kaminpar_spark.functions.hashing import POLY_MOD

    steps = ""
    prev = "l0"
    for r in range(1, JP_ROUNDS + 1):
        steps += f""",
lun{r} AS (SELECT id, pri * {1 << 31} + id AS k FROM {prev} WHERE st = 0),
lnb{r} AS (SELECT e.dst AS id, max(u.k) AS nb_k
           FROM edges e JOIN lun{r} u ON e.src = u.id GROUP BY e.dst),
lwin{r} AS (SELECT u.id FROM lun{r} u LEFT JOIN lnb{r} m ON u.id = m.id
            WHERE m.nb_k IS NULL OR u.k > m.nb_k),
llose{r} AS (SELECT DISTINCT e.dst AS id FROM edges e JOIN lwin{r} w ON e.src = w.id),
l{r} AS MATERIALIZED (
  SELECT s.id, s.pri,
         CASE WHEN s.st <> 0 THEN s.st
              WHEN w.id IS NOT NULL THEN 1
              WHEN x.id IS NOT NULL THEN -1
              ELSE 0 END AS st
  FROM {prev} s LEFT JOIN lwin{r} w ON s.id = w.id
               LEFT JOIN llose{r} x ON s.id = x.id)"""
        prev = f"l{r}"
    return f"""WITH {_EDGES_CTE},
l0 AS (SELECT id, ({COLOR_PRI_A} * id + {COLOR_PRI_B}) % {POLY_MOD} AS pri,
              0 AS st FROM nodes){steps}
SELECT id, CAST(st AS INT) AS st FROM {prev}"""


def _hits_sql() -> str:
    """Unrolled HITS rounds mirroring operators.hits (directed edges from the
    pre-symmetrization `pairs` CTE; exact int sums + floor-div max rescale)."""
    from kaminpar_spark.operators.hits import HITS_SCALE

    steps, prev_hub = "", "h0"
    for r in range(1, HITS_ITERS + 1):
        steps += f""",
ar{r} AS MATERIALIZED (
  SELECT e.dst AS id, sum(e.weight * h.s) AS raw
  FROM dedges e JOIN {prev_hub} h ON e.src = h.id GROUP BY e.dst),
a{r} AS MATERIALIZED (
  SELECT n.id,
         CAST(coalesce(ar.raw * {HITS_SCALE} // (SELECT max(raw) FROM ar{r}), 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN ar{r} ar ON n.id = ar.id),
hr{r} AS MATERIALIZED (
  SELECT e.src AS id, sum(e.weight * a.s) AS raw
  FROM dedges e JOIN a{r} a ON e.dst = a.id GROUP BY e.src),
h{r} AS MATERIALIZED (
  SELECT n.id,
         CAST(coalesce(hr.raw * {HITS_SCALE} // (SELECT max(raw) FROM hr{r}), 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN hr{r} hr ON n.id = hr.id)"""
        prev_hub = f"h{r}"
    return f"""WITH {_EDGES_CTE},
dedges AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight FROM pairs GROUP BY src, dst),
h0 AS (SELECT id, CAST({HITS_SCALE} AS BIGINT) AS s FROM nodes){steps}
SELECT n.id, a.s AS auth, h.s AS hub
FROM nodes n JOIN a{HITS_ITERS} a ON n.id = a.id JOIN h{HITS_ITERS} h ON n.id = h.id"""


def _hem_sql() -> str:
    """Unrolled locally-dominant matching rounds mirroring
    operators.matching.matching_round (pick = max weight then min dst;
    mutual picks match; mate NULL while unmatched)."""
    steps, prev = "", "m0"
    for r in range(1, HEM_ROUNDS + 1):
        steps += f""",
un{r} AS (SELECT id FROM {prev} WHERE mate IS NULL),
live{r} AS (SELECT e.src, e.dst, e.weight FROM edges e
            JOIN un{r} a ON e.src = a.id JOIN un{r} b ON e.dst = b.id),
pick{r} AS MATERIALIZED (
  SELECT src AS id, dst AS pick FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst ASC) AS rn
    FROM live{r}) t WHERE rn = 1),
mut{r} AS (SELECT p.id, p.pick FROM pick{r} p
           JOIN pick{r} q ON p.id = q.pick AND p.pick = q.id),
m{r} AS MATERIALIZED (
  SELECT s.id, coalesce(s.mate, w.pick) AS mate
  FROM {prev} s LEFT JOIN mut{r} w ON s.id = w.id)"""
        prev = f"m{r}"
    return f"""WITH {_EDGES_CTE},
m0 AS (SELECT id, CAST(NULL AS BIGINT) AS mate FROM nodes){steps}
SELECT id, mate FROM {prev}"""


def _walk_steps_sql() -> tuple[str, str]:
    """(CTE chain, union select) for the deterministic walks — one arg_min
    CTE per step mirroring operators.walks._step_key bit-for-bit."""
    from kaminpar_spark.operators.walks import WALK_A, WALK_B, WALK_C, WALK_D
    from kaminpar_spark.functions.hashing import POLY_MOD

    ctes = f""",
w0 AS MATERIALIZED (SELECT id AS walk_id, id AS cur FROM nodes WHERE id % {WALK_START_MOD} = 0)"""
    selects = ["SELECT walk_id, CAST(0 AS INT) AS step, cur AS id FROM w0"]
    for s in range(1, WALK_LEN + 1):
        key = (
            f"(({WALK_A}*w.cur + {WALK_B}*w.walk_id + {WALK_C * s} + {WALK_D}*e.dst) "
            f"% {POLY_MOD}) * {1 << 31} + e.dst"
        )
        ctes += f""",
w{s} AS MATERIALIZED (
  SELECT w.walk_id, arg_min(e.dst, {key}) AS cur
  FROM w{s - 1} w JOIN edges e ON e.src = w.cur GROUP BY w.walk_id)"""
        selects.append(f"SELECT walk_id, CAST({s} AS INT) AS step, cur AS id FROM w{s}")
    return ctes, " UNION ALL ".join(selects)


def _walks_sql() -> str:
    ctes, union = _walk_steps_sql()
    return f"WITH {_EDGES_CTE}{ctes}\n{union}"


def _n2v_sql() -> str:
    """Unrolled node2vec steps mirroring operators.walks.node2vec_walks
    (biased arg-min: hash * class multiplier, ties by dst)."""
    from kaminpar_spark.functions.hashing import POLY_MOD
    from kaminpar_spark.operators.walks import (
        N2V_P,
        N2V_Q,
        WALK_A,
        WALK_B,
        WALK_C,
        WALK_D,
    )

    ctes, prev = "", "w0"
    sels = [f"SELECT walk_id, 0 AS step, cur AS id FROM w0"]
    for st in range(1, WALK_LEN + 1):
        h = (
            f"(({WALK_A} * c.cur + {WALK_B} * c.walk_id + {WALK_C * st} "
            f"+ {WALK_D} * e.dst) % {POLY_MOD})"
        )
        mult = (
            f"(CASE WHEN e.dst = c.prev THEN {N2V_P} "
            f"WHEN EXISTS (SELECT 1 FROM edges r WHERE r.src = c.prev AND r.dst = e.dst) THEN 1 "
            f"ELSE {N2V_Q} END)"
        )
        ctes += f""",
w{st} AS MATERIALIZED (
  SELECT walk_id, cur AS prev, d AS cur FROM (
    SELECT c.walk_id, c.cur, e.dst AS d,
           row_number() OVER (PARTITION BY c.walk_id
                              ORDER BY {h} * {mult} ASC, e.dst ASC) AS rn
    FROM {prev} c JOIN edges e ON e.src = c.cur) t WHERE rn = 1)"""
        prev = f"w{st}"
        sels.append(f"SELECT walk_id, {st} AS step, cur AS id FROM w{st}")
    union = " UNION ALL ".join(sels)
    return f"""WITH {_EDGES_CTE},
w0 AS (SELECT id AS walk_id, id AS prev, id AS cur FROM nodes
       WHERE id % {WALK_START_MOD} = 0){ctes}
SELECT walk_id, CAST(step AS INT) AS step, id FROM ({union}) u"""


def _walk_contexts_sql() -> str:
    ctes, union = _walk_steps_sql()
    return f"""WITH {_EDGES_CTE}{ctes},
walks AS MATERIALIZED ({union})
SELECT a.id AS center, b.id AS context, CAST(count(*) AS BIGINT) AS n
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id AND a.step <> b.step AND abs(a.step - b.step) <= {WALK_WINDOW}
GROUP BY 1, 2"""


_CONDUCTANCE_SQL = f"""WITH {_EDGES_CTE},
per AS (
  SELECT src % 4 AS block,
         sum(weight) AS volume,
         sum(CASE WHEN src % 4 <> dst % 4 THEN weight ELSE 0 END) AS cut_w
  FROM edges GROUP BY 1),
tot AS (SELECT sum(weight) AS vol_all FROM edges)
SELECT CAST(block AS INT) AS block,
       CAST(cut_w AS BIGINT) AS cut_weight,
       CAST(volume AS BIGINT) AS volume,
       CASE WHEN least(volume, (SELECT vol_all FROM tot) - volume) > 0
            THEN round(CAST(cut_w AS DOUBLE) / least(volume, (SELECT vol_all FROM tot) - volume), 6)
       END AS conductance
FROM per"""


def _dist_sql(weighted: bool) -> str:
    """Unrolled min-relaxation (one MATERIALIZED CTE per superstep), mirroring
    operators.paths.relax_step round by round — full relaxation from all
    reached nodes produces the same per-round states as the engine's changed-
    frontier optimization (distances are monotone non-increasing)."""
    stepw = "e.weight" if weighted else "1"
    prev = "d0"
    steps = ""
    for i in range(1, BFS_HOPS + 1):
        steps += f""",
d{i} AS MATERIALIZED (
  SELECT a.id,
         CASE WHEN a.dist IS NULL THEN m.nd WHEN m.nd IS NULL THEN a.dist
              ELSE least(a.dist, m.nd) END AS dist
  FROM {prev} a LEFT JOIN (
    SELECT e.dst AS id, MIN(r.dist + {stepw}) AS nd
    FROM edges e JOIN {prev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY e.dst) m ON a.id = m.id)"""
        prev = f"d{i}"
    return f"""WITH {_EDGES_CTE},
d0 AS (SELECT id, CASE WHEN id = 0 THEN CAST(0 AS BIGINT) END AS dist FROM nodes){steps}
SELECT id, CAST(dist AS BIGINT) AS dist FROM {prev} WHERE dist IS NOT NULL"""


def _pagerank_sql() -> str:
    # no dangling nodes by construction (every actor has >= 1 link)
    prev = "r0"
    steps = ""
    for i in range(1, PR_ITERS + 1):
        steps += f""",
r{i} AS MATERIALIZED (
  SELECT d.id,
         (0.15 / (SELECT n FROM nn)) + 0.85 * coalesce(s.x, 0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / dg.degree) AS x
    FROM edges e JOIN {prev} r ON e.src = r.id JOIN deg dg ON e.src = dg.id
    GROUP BY e.dst) s
  ON d.id = s.id)"""
        prev = f"r{i}"
    return f"""WITH {_EDGES_CTE},
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM deg){steps}
SELECT id, round(rank, 6) AS rank FROM {prev}"""


def _pagerank_warm_sql() -> str:
    """Two unrolled chains in one id universe: phase A on the base edge
    subset (per-step dangling-mass scalar over degree-0 nodes, mirroring
    pagerank_step's filtered aggregate), unit-mass renormalized warm seed
    (init_ranks warm_start semantics), phase B on the full edge table."""
    prev = "a0"
    a_steps = ""
    for i in range(1, PR_WARM_A + 1):
        a_steps += f""",
a{i}dm AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM {prev} r JOIN bdeg d ON r.id = d.id WHERE d.degree = 0),
a{i} AS MATERIALIZED (
  SELECT d.id,
         (0.15 / (SELECT n FROM nn))
           + 0.85 * (SELECT dm FROM a{i}dm) / (SELECT n FROM nn)
           + 0.85 * coalesce(s.x, 0) AS rank
  FROM bdeg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / dg.degree) AS x
    FROM be e JOIN {prev} r ON e.src = r.id JOIN bdeg dg ON e.src = dg.id
    GROUP BY e.dst) s
  ON d.id = s.id)"""
        prev = f"a{i}"
    b_steps = ""
    bprev = "b0"
    for i in range(1, PR_WARM_B + 1):
        b_steps += f""",
b{i} AS MATERIALIZED (
  SELECT d.id,
         (0.15 / (SELECT n FROM nn)) + 0.85 * coalesce(s.x, 0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / dg.degree) AS x
    FROM edges e JOIN {bprev} r ON e.src = r.id JOIN deg dg ON e.src = dg.id
    GROUP BY e.dst) s
  ON d.id = s.id)"""
        bprev = f"b{i}"
    return f"""WITH {_EDGES_CTE},
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
be AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src + dst) % 3 <> 0),
bdeg AS MATERIALIZED (
  SELECT n.id, CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
  FROM deg n LEFT JOIN (
    SELECT src AS id, count(*) AS degree FROM be GROUP BY src) d
  ON n.id = d.id),
a0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM bdeg){a_steps},
tot AS (SELECT sum(rank) AS t FROM {prev}),
b0 AS (SELECT id, rank / (SELECT t FROM tot) AS rank FROM {prev}){b_steps}
SELECT id, round(rank, 6) AS rank FROM {bprev}"""


def _cc_sql() -> str:
    prev = "c0"
    steps = ""
    for i in range(1, CC_STEPS + 1):
        steps += f""",
c{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM edges e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
c{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM c{i}a a LEFT JOIN c{i}a b ON a.comp = b.id)"""
        prev = f"c{i}"
    return f"""WITH {_EDGES_CTE},
c0 AS (SELECT id, id AS comp FROM nodes){steps}
SELECT id, comp FROM {prev}"""


_TRIANGLE_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst))
SELECT CAST(count(*) AS BIGINT) AS triangles
FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
           JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst"""

def _vocab_growth_sql() -> str:
    from kaminpar_spark.functions.hashing import char_poly_hash_sql

    gh = char_poly_hash_sql("gram")
    return f"""WITH
mx AS (SELECT max(doc_id) AS m FROM documents),
w AS (SELECT ((SELECT m FROM mx) + {VOCAB_BUCKETS}) // {VOCAB_BUCKETS} AS width),
toks AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS wds FROM documents),
idx AS (SELECT id, wds, unnest(range(greatest(len(wds) - 2, 1))) AS i FROM toks),
grams AS (SELECT DISTINCT id, array_to_string(array_slice(wds, i + 1, i + 3), ' ') AS gram
          FROM idx WHERE array_to_string(array_slice(wds, i + 1, i + 3), ' ') <> ''),
sh AS MATERIALIZED (SELECT DISTINCT id, {gh} AS h FROM grams),
first AS MATERIALIZED (
  SELECT h, min(CAST(id // (SELECT width FROM w) AS INT)) AS first_bucket
  FROM sh GROUP BY h),
hist AS (SELECT first_bucket, CAST(count(*) AS BIGINT) AS new_tokens
         FROM first GROUP BY first_bucket)
SELECT CAST(first_bucket AS INT) AS prefix_bucket, new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY first_bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
FROM hist"""

_ROLE_ASSORT_SQL = f"""WITH {_EDGES_CTE},
typ AS (SELECT id, string_split(actor, '_')[1] AS t FROM nodes),
mix AS MATERIALIZED (
  SELECT a.t AS ts, b.t AS td, CAST(sum(e.weight) AS BIGINT) AS c
  FROM edges e JOIN typ a ON e.src = a.id JOIN typ b ON e.dst = b.id
  GROUP BY a.t, b.t),
s AS (SELECT CAST(sum(c) AS BIGINT) AS m,
             CAST(sum(CASE WHEN ts = td THEN c ELSE 0 END) AS BIGINT) AS diag
      FROM mix),
rw AS (SELECT ts AS t, CAST(sum(c) AS BIGINT) AS rc FROM mix GROUP BY ts),
cl AS (SELECT td AS t, CAST(sum(c) AS BIGINT) AS cc FROM mix GROUP BY td),
ab AS (SELECT CAST(sum(rw.rc * cl.cc) AS BIGINT) AS v FROM rw JOIN cl ON rw.t = cl.t)
SELECT s.m AS total_weight, s.diag AS same_type_weight,
       round(CAST(s.m * s.diag - ab.v AS DOUBLE)
             / CAST(s.m * s.m - ab.v AS DOUBLE), 6) AS assortativity
FROM s, ab"""

_TRI_INCR_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
be AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src + dst) % 3 <> 0),
bdeg AS MATERIALIZED (SELECT src AS id, count(*) AS degree FROM be GROUP BY src),
boe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM be e JOIN bdeg a ON e.src = a.id JOIN bdeg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tt AS (SELECT count(*) AS c FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
                JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tb AS (SELECT count(*) AS c FROM boe e1 JOIN boe e2 ON e1.dst = e2.src
                JOIN boe e3 ON e3.src = e1.src AND e3.dst = e2.dst)
SELECT CAST(tb.c AS BIGINT) AS tri_old,
       CAST(tt.c - tb.c AS BIGINT) AS tri_delta,
       CAST(tt.c AS BIGINT) AS tri_total
FROM tt, tb"""

_ASSORT_SQL = f"""WITH {_EDGES_CTE},
xy AS (SELECT CAST(da.degree AS HUGEINT) AS dx, CAST(db.degree AS HUGEINT) AS dy
       FROM edges e JOIN deg da ON e.src = da.id JOIN deg db ON e.dst = db.id),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
             CAST(sum(dx*dy) AS DOUBLE) AS sxy,
             CAST(sum(dx*dx) AS DOUBLE) AS sxx, CAST(sum(dy*dy) AS DOUBLE) AS syy
      FROM xy)
SELECT round((n*sxy - sx*sy) / sqrt(n*sxx - sx*sx) / sqrt(n*syy - sy*sy), 6) AS assortativity
FROM s"""

_TRUSS_SQL_TEMPLATE = """,
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tri AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
             JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
te AS (SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri
       UNION ALL SELECT least(v, w) AS a, greatest(v, w) AS b FROM tri
       UNION ALL SELECT least(u, w) AS a, greatest(u, w) AS b FROM tri),
sup AS (SELECT a, b, count(*) AS s FROM te GROUP BY a, b),
und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM oe)
SELECT und.a, und.b, CAST(coalesce(sup.s, 0) AS BIGINT) AS support
FROM und LEFT JOIN sup ON und.a = sup.a AND und.b = sup.b
WHERE coalesce(sup.s, 0) >= {min_support}"""

_GRAPH_SUMMARY_SQL = f"""WITH {_EDGES_CTE}
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(degree) // 2 AS BIGINT) AS n_edges,
       CAST(min(degree) AS BIGINT) AS min_degree,
       CAST(max(degree) AS BIGINT) AS max_degree,
       round(CAST(sum(degree) AS DOUBLE) / count(*), 6) AS avg_degree,
       round(quantile_cont(degree, 0.5), 6) AS median_degree,
       round(CAST(sum(degree) AS DOUBLE) / count(*) / (count(*) - 1), 6) AS density
FROM deg"""


def _domain_mix_sql() -> str:
    from kaminpar_spark.functions.hashing import POLY_MOD, char_poly_hash_sql

    h = char_poly_hash_sql("'mix' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(f"WHEN '{k}' THEN {r}" for k, r in sorted(MIX_TARGETS.items()))
    return f"""
WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
tt AS (SELECT lang, c, CASE lang {whens} END AS tgt FROM cnt
       WHERE (CASE lang {whens} END) IS NOT NULL),
sc AS (SELECT min(CAST(c AS DOUBLE) / tgt) AS scale FROM tt),
r AS (SELECT lang, (SELECT scale FROM sc) * tgt / c AS rate FROM tt),
b AS (SELECT doc_id, lang, ((({h}) * 48271) % {POLY_MOD}) % 1000000 AS bucket
      FROM documents)
SELECT b.doc_id, b.lang, CAST(b.bucket AS BIGINT) AS bucket
FROM b JOIN r ON b.lang = r.lang
WHERE b.bucket < r.rate * 1000000"""


_ADJ_JACCARD_SQL = f"""WITH {_EDGES_CTE},
wed AS MATERIALIZED (
  SELECT l.dst AS u, r.dst AS w, CAST(count(*) AS BIGINT) AS common
  FROM edges l JOIN edges r ON l.src = r.src AND l.dst < r.dst
  GROUP BY l.dst, r.dst HAVING count(*) >= {JACCARD_MIN_COMMON})
SELECT u, w, common,
       round(CAST(common AS DOUBLE) / (du.degree + dw.degree - common), 4) AS jaccard
FROM wed JOIN deg du ON wed.u = du.id JOIN deg dw ON wed.w = dw.id
ORDER BY jaccard DESC, u, w LIMIT {JACCARD_TOPK}"""


_RA_SQL = f"""WITH {_EDGES_CTE},
cape AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN (
    SELECT src, count(*) AS cdeg, min({_cap_key_sql()}) AS mk
    FROM edges GROUP BY src) capst USING (src)
  WHERE ({_cap_key_sql('e.src', 'e.dst')}) % capst.cdeg < {RA_CAP}
     OR ({_cap_key_sql('e.src', 'e.dst')}) = capst.mk),
wed AS MATERIALIZED (
  SELECT l.dst AS u, r.dst AS w,
         CAST(count(*) AS BIGINT) AS common,
         CAST(sum({1 << 20} // dc.degree) AS BIGINT) AS ra
  FROM cape l JOIN cape r ON l.src = r.src AND l.dst < r.dst
  JOIN deg dc ON dc.id = l.src
  GROUP BY l.dst, r.dst HAVING count(*) >= {JACCARD_MIN_COMMON})
SELECT u, w, common, ra FROM wed
ORDER BY ra DESC, u, w LIMIT {JACCARD_TOPK}"""


def _linkpred_training_sql() -> str:
    """Twin of operators/linkpred.training_pairs: same mixer gates, same
    residual-graph features, same RA lattice and round(4) Jaccard."""
    from kaminpar_spark.operators.linkpred import (
        LP_MIX_K,
        LP_MIX_MOD,
        LP_MIX_MULT,
        RA_SCALE,
    )

    p = LP_TRAIN_PROBES
    return f"""WITH {_EDGES_CTE},
pos AS MATERIALIZED (
  SELECT src AS u, dst AS w FROM edges
  WHERE src < dst
    AND (((src * {LP_MIX_K} + dst) % {LP_MIX_MOD}) * {LP_MIX_MULT})
        % {LP_MIX_MOD} % {LP_TRAIN_HOLDOUT} = 0),
held AS (SELECT u AS src, w AS dst FROM pos
         UNION ALL SELECT w AS src, u AS dst FROM pos),
res AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e
  WHERE NOT EXISTS (SELECT 1 FROM held h WHERE h.src = e.src AND h.dst = e.dst)),
rdeg AS MATERIALIZED (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS degree FROM res GROUP BY src),
seeds AS (SELECT u AS id FROM pos UNION SELECT w AS id FROM pos),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
negraw AS (
  SELECT s.id,
         ((s.id * {p} + g.j + 1) * {LP_MIX_MULT}) % {LP_MIX_MOD}
           % (SELECT n FROM nn) AS neg_id
  FROM seeds s, generate_series(0, {p - 1}) g(j)),
negd AS (SELECT DISTINCT id, neg_id FROM negraw WHERE neg_id <> id),
nega AS (SELECT id, neg_id FROM negd
         WHERE NOT EXISTS (SELECT 1 FROM edges e
                           WHERE e.src = negd.id AND e.dst = negd.neg_id)),
negc AS (SELECT DISTINCT least(id, neg_id) AS u, greatest(id, neg_id) AS w
         FROM nega),
cand AS MATERIALIZED (
  SELECT u, w, 1 AS label FROM pos
  UNION ALL SELECT u, w, 0 AS label FROM negc),
inter AS MATERIALIZED (
  SELECT c.u, c.w, CAST(count(*) AS BIGINT) AS common,
         CAST(sum({RA_SCALE} // d.degree) AS BIGINT) AS ra
  FROM cand c JOIN res a ON a.src = c.u
              JOIN res b ON b.src = c.w AND b.dst = a.dst
              JOIN rdeg d ON d.id = a.dst
  GROUP BY c.u, c.w)
SELECT c.u, c.w, CAST(c.label AS INT) AS label,
  CAST(coalesce(i.common, 0) AS BIGINT) AS common,
  CAST(coalesce(i.ra, 0) AS BIGINT) AS ra,
  CAST(coalesce(du.degree, 0) AS BIGINT) AS deg_u,
  CAST(coalesce(dw.degree, 0) AS BIGINT) AS deg_w,
  CAST(coalesce(du.degree, 0) * coalesce(dw.degree, 0) AS BIGINT) AS pa,
  CASE WHEN coalesce(i.common, 0) > 0
       THEN round(CAST(i.common AS DOUBLE)
                  / (du.degree + dw.degree - i.common), 4)
       ELSE 0.0 END AS jaccard
FROM cand c
LEFT JOIN inter i ON i.u = c.u AND i.w = c.w
LEFT JOIN rdeg du ON du.id = c.u
LEFT JOIN rdeg dw ON dw.id = c.w"""


_LPA_MODULARITY_SQL = f"""WITH {_EDGES_CTE},
sc AS MATERIALIZED (SELECT dst AS id, src AS label, sum(weight) AS score FROM edges GROUP BY dst, src),
best AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc) t WHERE rn = 1),
lab AS MATERIALIZED (
  SELECT n.id, CAST(coalesce(b.label, n.id) AS BIGINT) AS label
  FROM nodes n LEFT JOIN best b ON n.id = b.id),
tm AS (SELECT CAST(sum(weight) AS DOUBLE) AS two_m FROM edges),
intl AS (
  SELECT l1.label AS lab, sum(e.weight) AS w_in
  FROM edges e JOIN lab l1 ON e.src = l1.id JOIN lab l2 ON e.dst = l2.id
  WHERE l1.label = l2.label GROUP BY l1.label),
tot AS (
  SELECT l.label AS lab, sum(d.weighted_degree) AS tot
  FROM deg d JOIN lab l ON d.id = l.id GROUP BY l.label)
SELECT round(sum(coalesce(i.w_in, 0) / (SELECT two_m FROM tm)
              - (t.tot / (SELECT two_m FROM tm)) * (t.tot / (SELECT two_m FROM tm))), 6)
       AS modularity
FROM tot t LEFT JOIN intl i ON t.lab = i.lab"""


_CLEAN_CORPUS_SQL = """
WITH kept AS (
  SELECT min(doc_id) AS doc_id, any_value(text) AS text
  FROM documents GROUP BY text),
q AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         round(CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','to','and','is','in','it','on','for'))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS stopword_ratio
  FROM kept)
SELECT * FROM q
WHERE n_tokens >= 20 AND n_tokens <= 90 AND stopword_ratio >= 0.02"""


def _ppr_sql() -> str:
    # teleport set {0..PPR_SOURCES-1}, uniform reset; no dangling nodes by
    # construction (every actor has >= 1 link)
    prev = "p0"
    steps = ""
    for i in range(1, PR_ITERS + 1):
        steps += f""",
p{i} AS MATERIALIZED (
  SELECT d.id, d.reset,
         0.15 * d.reset + 0.85 * coalesce(s.x, 0) AS rank
  FROM p0_base d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / dg.degree) AS x
    FROM edges e JOIN {prev} r ON e.src = r.id JOIN deg dg ON e.src = dg.id
    GROUP BY e.dst) s
  ON d.id = s.id)"""
        prev = f"p{i}"
    return f"""WITH {_EDGES_CTE},
p0_base AS MATERIALIZED (
  SELECT id, CASE WHEN id < {PPR_SOURCES} THEN 1.0 / {PPR_SOURCES} ELSE 0.0 END AS reset
  FROM deg),
p0 AS (SELECT id, reset, reset AS rank FROM p0_base){steps}
SELECT id, round(rank, 6) AS rank FROM {prev}"""


_LCC_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tri AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
             JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
pern AS (
  SELECT id, count(*) AS t FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) x
  GROUP BY id)
SELECT d.id,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(p.t, 0) / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN pern p ON d.id = p.id"""


_LP1_SQL = f"""WITH {_EDGES_CTE},
sc AS MATERIALIZED (SELECT dst AS id, src AS label, sum(weight) AS score FROM edges GROUP BY dst, src),
best AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc) t WHERE rn = 1)
SELECT n.id, CAST(coalesce(b.label, n.id) AS BIGINT) AS label
FROM nodes n LEFT JOIN best b ON n.id = b.id"""


def _lpa_warm_sql() -> str:
    """Unrolled synchronous LP steps: LPA_WARM_A over the base edge subset,
    LPA_WARM_B over the full edge table, identity start. Each step mirrors
    lp_step exactly — best = argmax(score desc, label asc) over adjacent
    labels, move iff best_label differs AND best_score strictly beats the
    own-label adjacent score (0 when the own label is not adjacent)."""

    def step(i: int, edges: str, prev: str) -> str:
        return f""",
sc{i} AS MATERIALIZED (
  SELECT e.dst AS id, l.label, sum(e.weight) AS score
  FROM {edges} e JOIN {prev} l ON e.src = l.id GROUP BY e.dst, l.label),
b{i} AS MATERIALIZED (
  SELECT id, label AS best_label, score AS best_score FROM (
    SELECT id, label, score,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc{i}) t WHERE rn = 1),
l{i} AS MATERIALIZED (
  SELECT c.id,
         CASE WHEN b.best_label IS NOT NULL AND b.best_label <> c.label
                   AND b.best_score > coalesce(o.score, 0)
              THEN b.best_label ELSE c.label END AS label
  FROM {prev} c
  LEFT JOIN b{i} b ON c.id = b.id
  LEFT JOIN sc{i} o ON c.id = o.id AND c.label = o.label)"""

    steps = ""
    prev = "l0"
    for i in range(1, LPA_WARM_A + 1):
        steps += step(i, "be", prev)
        prev = f"l{i}"
    for i in range(LPA_WARM_A + 1, LPA_WARM_A + LPA_WARM_B + 1):
        steps += step(i, "edges", prev)
        prev = f"l{i}"
    return f"""WITH {_EDGES_CTE},
be AS MATERIALIZED (
  SELECT src, dst, weight FROM edges WHERE (src + dst) % 3 <> 0),
l0 AS (SELECT id, id AS label FROM nodes){steps}
SELECT id, CAST(label AS BIGINT) AS label FROM {prev}"""


def _score_sql() -> str:
    steps = ""
    prev = "se0"
    for i in range(1, KCORE_ROUNDS + 1):
        steps += f""",
sv{i} AS MATERIALIZED (
  SELECT src FROM (SELECT src, sum(weight) AS c FROM {prev} GROUP BY src) WHERE c < {SCORE_S}),
se{i} AS MATERIALIZED (
  SELECT * FROM {prev}
  WHERE src NOT IN (SELECT src FROM sv{i}) AND dst NOT IN (SELECT src FROM sv{i}))"""
        prev = f"se{i}"
    return f"""WITH {_EDGES_CTE},
se0 AS (SELECT src, dst, weight FROM edges){steps}
SELECT DISTINCT src AS id FROM {prev}"""


def _kcore_sql() -> str:
    steps = ""
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        steps += f""",
v{i} AS MATERIALIZED (
  SELECT src FROM (SELECT src, count(*) AS c FROM {prev} GROUP BY src) WHERE c < {KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT * FROM {prev}
  WHERE src NOT IN (SELECT src FROM v{i}) AND dst NOT IN (SELECT src FROM v{i}))"""
        prev = f"e{i}"
    return f"""WITH {_EDGES_CTE},
e0 AS (SELECT src, dst, weight FROM edges){steps}
SELECT DISTINCT src AS id FROM {prev}"""


def _bandwidth_orders_sql() -> str:
    steps = ""
    prev = "b0"
    for i in range(1, BW_HOPS + 1):
        steps += f""",
b{i} AS MATERIALIZED (
  SELECT a.id,
         CASE WHEN a.dist IS NULL THEN m.nd WHEN m.nd IS NULL THEN a.dist
              ELSE least(a.dist, m.nd) END AS dist
  FROM {prev} a LEFT JOIN (
    SELECT e.dst AS id, MIN(r.dist + 1) AS nd
    FROM edges e JOIN {prev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY e.dst) m ON a.id = m.id)"""
        prev = f"b{i}"
    return f"""WITH {_EDGES_CTE},
ue AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
b0 AS (SELECT id, CASE WHEN id = 0 THEN CAST(0 AS BIGINT) END AS dist FROM nodes){steps},
pid AS (SELECT id, CAST(id AS BIGINT) AS pos FROM nodes),
pdeg AS (SELECT id, CAST(row_number() OVER (ORDER BY degree DESC, id ASC) - 1 AS BIGINT) AS pos FROM deg),
lvl AS (SELECT n.id, coalesce(b.dist, {BW_HOPS + 1}) AS lvl
        FROM nodes n LEFT JOIN {prev} b ON n.id = b.id),
pbfs AS (SELECT id, CAST(row_number() OVER (ORDER BY lvl ASC, id ASC) - 1 AS BIGINT) AS pos FROM lvl),
allp AS (
  SELECT 'identity' AS ordering, id, pos FROM pid
  UNION ALL SELECT 'degree', id, pos FROM pdeg
  UNION ALL SELECT 'bfs', id, pos FROM pbfs),
spans AS (
  SELECT pu.ordering, abs(pu.pos - pv.pos) AS span
  FROM ue e
  JOIN allp pu ON e.src = pu.id
  JOIN allp pv ON e.dst = pv.id AND pu.ordering = pv.ordering)
SELECT ordering,
       CAST(max(span) AS BIGINT) AS bandwidth,
       CAST(sum(span) AS BIGINT) AS profile_sum,
       CAST(count(*) AS BIGINT) AS n_edges,
       round(CAST(sum(span) AS DOUBLE) / count(*), 6) AS mean_span
FROM spans GROUP BY ordering"""


def _sage_sample_sql() -> str:
    from kaminpar_spark.functions.hashing import POLY_MOD, minhash_perms

    layers = []
    prev_frontier = "f0"
    steps = """,
f0 AS (SELECT id AS src FROM nodes WHERE id % 37 = 0)"""
    for layer, s in enumerate(SAGE_FANOUTS, start=1):
        a, b = minhash_perms(s, seed=SAGE_SEED + layer)
        draws = "\n  UNION\n  ".join(
            f"""SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src
      ORDER BY ((dst * {a[j]}) % {POLY_MOD} + (src * {b[j]}) % {POLY_MOD}) % {POLY_MOD}, dst) AS rn
    FROM e{layer}) WHERE rn = 1"""
            for j in range(s)
        )
        steps += f""",
e{layer} AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e JOIN {prev_frontier} f ON e.src = f.src),
l{layer} AS MATERIALIZED (
  SELECT {layer} AS layer, src, dst FROM (
  {draws})),
f{layer} AS (SELECT DISTINCT dst AS src FROM l{layer})"""
        prev_frontier = f"f{layer}"
        layers.append(f"SELECT * FROM l{layer}")
    u = " UNION ALL ".join(layers)
    return f"""WITH {_EDGES_CTE}{steps}
SELECT CAST(layer AS INT) AS layer, src, dst FROM ({u})"""


def _vertex_cut_sql() -> str:
    from kaminpar_spark.plans.edge_partition import EP_MIX_MOD, EP_MIX_MULT

    def mx(c: str) -> str:
        return f"(({c} * {EP_MIX_MULT}) % {EP_MIX_MOD})"

    k, r = VCUT_K, int(VCUT_K**0.5)
    return f"""WITH {_EDGES_CTE},
ue AS MATERIALIZED (SELECT src, dst FROM edges WHERE src < dst),
asg AS MATERIALIZED (
  SELECT 'src' AS strategy, src, dst, CAST({mx('src')} % {k} AS BIGINT) AS block FROM ue
  UNION ALL
  SELECT 'dst', src, dst, CAST({mx('dst')} % {k} AS BIGINT) FROM ue
  UNION ALL
  SELECT 'grid', src, dst,
         CAST(({mx('src')} % {r}) * {r} + {mx('dst')} % {r} AS BIGINT) FROM ue
  UNION ALL
  SELECT 'hybrid', e.src, e.dst,
         CAST(CASE WHEN d.degree > {VCUT_HUB} THEN {mx('e.src')} % {k}
                   ELSE {mx('e.dst')} % {k} END AS BIGINT)
  FROM ue e JOIN deg d ON e.dst = d.id),
reps AS MATERIALIZED (
  SELECT DISTINCT strategy, v, block FROM (
    SELECT strategy, src AS v, block FROM asg
    UNION ALL SELECT strategy, dst, block FROM asg)),
rs AS (SELECT strategy, CAST(count(*) AS BIGINT) AS n_replicas,
              CAST(count(DISTINCT v) AS BIGINT) AS n_vertices
       FROM reps GROUP BY strategy),
loads AS (SELECT strategy, block, count(*) AS load FROM asg GROUP BY strategy, block),
ls AS (SELECT strategy, CAST(sum(load) AS BIGINT) AS n_edges,
              CAST(max(load) AS BIGINT) AS max_load,
              CAST(min(load) AS BIGINT) AS min_load,
              count(*) AS n_blocks
       FROM loads GROUP BY strategy)
SELECT rs.strategy, n_replicas, n_vertices, n_edges, max_load, min_load,
       round(CAST(n_replicas AS DOUBLE) / n_vertices, 6) AS replication,
       round(CAST(max_load * n_blocks AS DOUBLE) / n_edges, 6) AS imbalance
FROM rs JOIN ls ON rs.strategy = ls.strategy"""


def _onion_sql() -> str:
    steps = ""
    prev_k = None
    union = []
    for i in range(1, ONION_ROUNDS + 1):
        kexpr = (
            f"(SELECT min(d) FROM d{i})"
            if prev_k is None
            else f"greatest((SELECT k FROM k{prev_k}), (SELECT min(d) FROM d{i}))"
        )
        steps += f""",
d{i} AS MATERIALIZED (
  SELECT n.id, CAST(coalesce(c.c, 0) AS BIGINT) AS d
  FROM n{i - 1} n LEFT JOIN (SELECT src, count(*) AS c FROM e{i - 1} GROUP BY src) c
  ON n.id = c.src),
k{i} AS MATERIALIZED (SELECT {kexpr} AS k),
v{i} AS MATERIALIZED (
  SELECT id, {i} AS layer, (SELECT k FROM k{i}) AS core
  FROM d{i} WHERE d <= (SELECT k FROM k{i})),
n{i} AS MATERIALIZED (SELECT id FROM n{i - 1} WHERE id NOT IN (SELECT id FROM v{i})),
e{i} AS MATERIALIZED (
  SELECT * FROM e{i - 1}
  WHERE src NOT IN (SELECT id FROM v{i}) AND dst NOT IN (SELECT id FROM v{i}))"""
        prev_k = i
        union.append(f"SELECT * FROM v{i}")
    u = " UNION ALL ".join(union)
    return f"""WITH {_EDGES_CTE},
n0 AS (SELECT id FROM nodes),
e0 AS (SELECT src, dst FROM edges){steps}
SELECT id, CAST(layer AS INT) AS layer, CAST(core AS BIGINT) AS core FROM ({u})"""


_LP_CAPPED_SQL = f"""WITH {_EDGES_CTE},
sc AS MATERIALIZED (SELECT dst AS id, src AS label, sum(weight) AS score FROM edges GROUP BY dst, src),
best AS MATERIALIZED (
  SELECT id, label AS best_label, score AS best_score FROM (
    SELECT id, label, score,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc) t WHERE rn = 1),
movers AS MATERIALIZED (
  SELECT id, best_label, best_score AS gain FROM best
  WHERE best_label <> id AND best_score > 0),
adm AS MATERIALIZED (
  SELECT id, best_label,
         sum(1) OVER (PARTITION BY best_label ORDER BY gain DESC, id ASC
                      ROWS UNBOUNDED PRECEDING) AS cum_w
  FROM movers),
admitted AS MATERIALIZED (SELECT id, best_label FROM adm WHERE 1 + cum_w <= {LP_CAP})
SELECT n.id, CAST(coalesce(a.best_label, n.id) AS BIGINT) AS label
FROM nodes n LEFT JOIN admitted a ON n.id = a.id"""

_CONTRACTION_PREFIX = f"""WITH {_EDGES_CTE},
sc AS MATERIALIZED (SELECT dst AS id, src AS label, sum(weight) AS score FROM edges GROUP BY dst, src),
best AS MATERIALIZED (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc) t WHERE rn = 1),
l1 AS MATERIALIZED (
  SELECT n.id, CAST(coalesce(b.label, n.id) AS BIGINT) AS cluster
  FROM nodes n LEFT JOIN best b ON n.id = b.id),
cmap AS MATERIALIZED (
  SELECT cluster, CAST(dense_rank() OVER (ORDER BY cluster) - 1 AS BIGINT) AS c_id
  FROM (SELECT DISTINCT cluster FROM l1)),
node_map AS MATERIALIZED (
  SELECT l1.id, cmap.c_id FROM l1 JOIN cmap ON l1.cluster = cmap.cluster)"""

_CONTRACTION_EDGES_SQL = (
    _CONTRACTION_PREFIX
    + """
SELECT m1.c_id AS src, m2.c_id AS dst, CAST(sum(e.weight) AS BIGINT) AS weight
FROM edges e JOIN node_map m1 ON e.src = m1.id JOIN node_map m2 ON e.dst = m2.id
WHERE m1.c_id <> m2.c_id GROUP BY m1.c_id, m2.c_id"""
)

_CONTRACTION_NODES_SQL = (
    _CONTRACTION_PREFIX
    + """
SELECT c_id AS id, CAST(count(*) AS BIGINT) AS weight FROM node_map GROUP BY c_id"""
)


def _pagerank_weighted_sql() -> str:
    prev = "r0"
    steps = ""
    for i in range(1, PR_ITERS + 1):
        steps += f""",
r{i} AS MATERIALIZED (
  SELECT d.id,
         (0.15 / (SELECT n FROM nn)) + 0.85 * coalesce(s.x, 0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank * e.weight / dg.weighted_degree) AS x
    FROM edges e JOIN {prev} r ON e.src = r.id JOIN deg dg ON e.src = dg.id
    GROUP BY e.dst) s
  ON d.id = s.id)"""
        prev = f"r{i}"
    return f"""WITH {_EDGES_CTE},
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM deg){steps}
SELECT id, round(rank, 6) AS rank FROM {prev}"""


def _pagerank_recency_sql() -> str:
    hl, mo = PR_HALF_LIFE_S, PR_MAX_OCT
    prev = "r0"
    steps = ""
    for i in range(1, PR_ITERS + 1):
        steps += f""",
r{i} AS MATERIALIZED (
  SELECT d.id,
         (0.15 / (SELECT n FROM nn)) + 0.85 * coalesce(s.x, 0) AS rank
  FROM ddeg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank * e.weight / dg.weighted_degree) AS x
    FROM dedges e JOIN {prev} r ON e.src = r.id JOIN ddeg dg ON e.src = dg.id
    GROUP BY e.dst) s
  ON d.id = s.id)"""
        prev = f"r{i}"
    return f"""WITH {_EDGES_CTE},
dlinks AS MATERIALIZED (
  SELECT a_src, a_dst, ts_s FROM (
    SELECT lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
           actor AS a_dst, ts_s
    FROM actor_turns
    QUALIFY a_src IS NOT NULL AND a_src <> a_dst)),
tm AS (SELECT max(ts_s) AS tmax FROM dlinks),
dpairs AS MATERIALIZED (
  SELECT ns.id AS src, nd.id AS dst,
         (CAST(1 AS BIGINT) << ({mo} - least(
            CAST(length(bin((((SELECT tmax FROM tm) - l.ts_s) // {hl}) + 1)) - 1 AS INT),
            {mo}))) AS w
  FROM dlinks l JOIN nodes ns ON l.a_src = ns.actor
                JOIN nodes nd ON l.a_dst = nd.actor),
dedges AS MATERIALIZED (
  SELECT src, dst, CAST(sum(w) AS BIGINT) AS weight
  FROM (SELECT src, dst, w FROM dpairs UNION ALL SELECT dst, src, w FROM dpairs)
  GROUP BY src, dst),
ddeg AS MATERIALIZED (
  SELECT n.id, CAST(coalesce(d.wd, 0) AS BIGINT) AS weighted_degree
  FROM nodes n LEFT JOIN (
    SELECT src AS id, sum(weight) AS wd FROM dedges GROUP BY src) d ON n.id = d.id),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM ddeg){steps}
SELECT id, round(rank, 6) AS rank FROM {prev}"""


_LANGID_SQL = """
WITH h AS (
  SELECT doc_id,
    len(list_filter(string_split(text, ' '), x -> x IN ('der','die','das','und','ist','ein'))) AS h_de,
    len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','to','is','in'))) AS h_en,
    len(list_filter(string_split(text, ' '), x -> x IN ('el','la','de','que','y','en'))) AS h_es,
    len(list_filter(string_split(text, ' '), x -> x IN ('le','la','de','et','un','est'))) AS h_fr
  FROM documents)
SELECT doc_id,
  CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred,
  CAST(greatest(h_de, h_en, h_es, h_fr) AS BIGINT) AS lang_score
FROM h"""

_NGRAM_JACCARD_SQL = """
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents WHERE doc_id < 300),
idx AS (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM d),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram
  FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.id_a, i.id_b,
       round(CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter) >= 0.2"""


# ---- sketch-family oracle SQL (generated; constants shared with the Spark
# side via kaminpar_spark.functions.hashing) ----
def _minhash_sql() -> str:
    from kaminpar_spark.functions.hashing import POLY_MOD, char_poly_hash_sql, minhash_perms

    a, b = minhash_perms(MINHASH_K)
    gh = char_poly_hash_sql("gram")
    mins = ",\n       ".join(
        f"min(({a[i]} * h + {b[i]}) % {POLY_MOD}) AS s{i}" for i in range(MINHASH_K)
    )
    r = MINHASH_K // MINHASH_BANDS
    band_rows = "\nUNION ALL ".join(
        "SELECT id, {i} AS band, {key} AS key FROM sig".format(
            i=i,
            key="||','||".join(f"CAST(s{i * r + j} AS VARCHAR)" for j in range(r)),
        )
        for i in range(MINHASH_BANDS)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(MINHASH_K)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents),
idx AS (SELECT id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM toks),
grams AS (SELECT DISTINCT id, array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram
          FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
sh AS MATERIALIZED (SELECT DISTINCT id, {gh} AS h FROM grams),
sig AS MATERIALIZED (SELECT id,
       {mins}
       FROM sh GROUP BY id),
bands AS MATERIALIZED ({band_rows}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id)
SELECT id_a, id_b, est_jaccard FROM (
  SELECT c.id_a, c.id_b, CAST({eq_sum} AS DOUBLE) / {MINHASH_K} AS est_jaccard
  FROM cand c JOIN sig sa ON c.id_a = sa.id JOIN sig sb ON c.id_b = sb.id) t
WHERE est_jaccard >= {MINHASH_THRESH}"""


def _minhash_calibration_sql() -> str:
    from kaminpar_spark.functions.hashing import POLY_MOD, char_poly_hash_sql, minhash_perms

    a, b = minhash_perms(MINHASH_K)
    gh = char_poly_hash_sql("gram")
    mins = ",\n       ".join(
        f"min(({a[i]} * h + {b[i]}) % {POLY_MOD}) AS s{i}" for i in range(MINHASH_K)
    )
    r = MINHASH_K // MINHASH_BANDS
    band_rows = "\nUNION ALL ".join(
        "SELECT id, {i} AS band, {key} AS key FROM sig".format(
            i=i,
            key="||','||".join(f"CAST(s{i * r + j} AS VARCHAR)" for j in range(r)),
        )
        for i in range(MINHASH_BANDS)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN ga.s{i} = gb.s{i} THEN 1 ELSE 0 END)" for i in range(MINHASH_K)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents),
idx AS (SELECT id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM toks),
grams AS (SELECT DISTINCT id, array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram
          FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
sh AS MATERIALIZED (SELECT DISTINCT id, {gh} AS h FROM grams),
sig AS MATERIALIZED (SELECT id,
       {mins}
       FROM sh GROUP BY id),
bands AS MATERIALIZED ({band_rows}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c JOIN sh sa ON sa.id = c.id_a
              JOIN sh sb ON sb.id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b),
per AS (
  SELECT coalesce(i.n_inter, 0) AS ni,
         za.sz + zb.sz - coalesce(i.n_inter, 0) AS u,
         {eq_sum} AS eqm
  FROM cand c LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
       JOIN sizes za ON za.id = c.id_a JOIN sizes zb ON zb.id = c.id_b
       JOIN sig ga ON ga.id = c.id_a JOIN sig gb ON gb.id = c.id_b)
SELECT CAST((20 * ni) // u AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(eqm) AS BIGINT) AS est_match_sum
FROM per GROUP BY 1"""


def _near_dup_clusters_sql() -> str:
    """Transitive closure over the minhash pair set via a recursive
    min-label-reachability CTE (tiny pair graph at oracle scale), then
    cluster_id = min reachable id, self for unpaired documents."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id),
comp AS (SELECT id, MIN(lbl) AS comp FROM reach GROUP BY id)
SELECT d.doc_id, CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id"""


def _leiden_refine_sql() -> str:
    """Louvain CTE chain -> community-induced edge subset -> the same
    unrolled two-phase hash-to-min CC chain as _cc_sql, run over iedges.
    Both engines reach the min-id fixpoint, so step-count differences from
    early termination cannot diverge."""
    lctes, final = _louvain_ctes()
    prev = "r0"
    steps = ""
    for i in range(1, CC_STEPS + 1):
        steps += f""",
r{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM iedges e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
r{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM r{i}a a LEFT JOIN r{i}a b ON a.comp = b.id)"""
        prev = f"r{i}"
    return f"""WITH {_EDGES_CTE}{lctes},
iedges AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN {final} a ON a.id = e.src JOIN {final} b ON b.id = e.dst
  WHERE a.comm = b.comm),
r0 AS (SELECT id, id AS comp FROM nodes){steps}
SELECT l.id, l.comm, CAST(r.comp AS BIGINT) AS refined
FROM {final} l JOIN {prev} r ON r.id = l.id"""


def _zorder_sql() -> str:
    """Identical Morton shift/mask/add expression as plans/layout.z_value;
    pid = top bits of the 32-bit key at 64 target partitions (shift 26)."""
    from kaminpar_spark.plans.layout import z_value_sql

    z = z_value_sql("user_id", "day", bits=16)
    shift = 32 - (64 - 1).bit_length()
    return f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events)
SELECT event_id, {z} AS z_key, CAST(({z}) >> {shift} AS BIGINT) AS pid
FROM ev"""


def _group_split_sql() -> str:
    """Leakage-safe split twin: the near-dup cluster closure (recursive CTE)
    plus the identical Lehmer-mixed polynomial hash gate on cluster_id. All
    hash values are in [0, POLY_MOD), so plain % equals pmod."""
    from kaminpar_spark.functions.hashing import POLY_MOD, char_poly_hash_sql

    h = char_poly_hash_sql("'split' || CAST(cluster_id AS VARCHAR)")
    cut = int(round(GROUP_SPLIT_TEST * 10000))
    return f"""
WITH nd AS ({_near_dup_clusters_sql()})
SELECT doc_id, cluster_id,
       CASE WHEN ((({h}) * 48271) % {POLY_MOD}) % 10000 < {cut}
            THEN 'test' ELSE 'train' END AS split
FROM nd"""


_NULL_MODEL_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS triangles
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
             JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
ds AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(degree) AS BIGINT) AS sum_d,
         CAST(sum(degree * degree) AS BIGINT) AS sum_d2,
         CAST(sum(degree * (degree - 1)) AS BIGINT) AS sum_dd1
  FROM deg)
SELECT n_nodes, sum_d // 2 AS n_edges, sum_d2, sum_dd1, triangles,
  CASE WHEN sum_d = 0 THEN NULL
       ELSE round(CAST(sum_d2 AS DOUBLE) / CAST(sum_d AS DOUBLE), 6) END AS molloy_reed,
  CASE WHEN sum_d = 0 THEN NULL
       ELSE round((CAST(sum_dd1 AS DOUBLE) * CAST(sum_dd1 AS DOUBLE) * CAST(sum_dd1 AS DOUBLE))
                  / (6.0 * CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE)), 6)
       END AS expected_triangles,
  CASE WHEN sum_dd1 = 0 THEN NULL
       ELSE round((CAST(triangles AS DOUBLE) * 6.0 * CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE))
                  / (CAST(sum_dd1 AS DOUBLE) * CAST(sum_dd1 AS DOUBLE) * CAST(sum_dd1 AS DOUBLE)), 6)
       END AS tri_ratio
FROM ds, tri"""


def _stratified_sample_sql() -> str:
    from kaminpar_spark.functions.hashing import POLY_MOD, char_poly_hash_sql

    h = char_poly_hash_sql("'strat' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN '{k}' THEN {r}" for k, r in sorted(STRAT_RATES.items())
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang, ((({h}) * 48271) % {POLY_MOD}) % 10000 AS bucket,
         CASE lang {whens} ELSE {STRAT_DEFAULT} END AS rate
  FROM documents)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
FROM b WHERE bucket < rate * 10000"""


_NGRAM_TOPK_SQL = f"""
WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
g AS (SELECT array_to_string(array_slice(w, i + 1, i + {NGRAM_TOPK_N}), ' ') AS gram
      FROM (SELECT w, unnest(range(len(w) - {NGRAM_TOPK_N - 1})) AS i
            FROM toks WHERE len(w) >= {NGRAM_TOPK_N}))
SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g
GROUP BY gram ORDER BY cnt DESC, gram LIMIT {NGRAM_TOPK_K}"""


_PACK_SEQUENCES_SQL = f"""
WITH base AS (
  SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
         CAST(GREATEST(len(string_split(text, ' ')), 1) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
           AS end_pos
  FROM base)
SELECT doc_id, shard, n_tokens,
       end_pos - n_tokens AS start_pos,
       CAST(floor((end_pos - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS seq_first,
       CAST(floor((end_pos - 1) / {PACK_BUDGET}) AS BIGINT) AS seq_last
FROM c"""

_SOURCE_FILTER_SQL = f"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS mean_tokens,
         round(1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 6) AS dup_rate
  FROM documents GROUP BY source)
SELECT d.doc_id, d.source, s.mean_tokens, s.dup_rate
FROM documents d JOIN s USING (source)
WHERE s.mean_tokens >= {SRCQ_MIN_MEAN_TOKENS} AND s.dup_rate <= {SRCQ_MAX_DUP_RATE}
  AND s.n_docs >= 1"""

_TFIDF_SQL = f"""
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS _n FROM documents),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id, tf.term, tf.tf, round(tf.tf * ln(n._n / dfq.df), 6) AS score
       FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC)
        AS rnk FROM sc)
SELECT doc_id, term, tf, score FROM r WHERE rnk <= {TFIDF_K}"""


def _simhash_sql() -> str:
    """DuckDB twin of the 124-bit simhash128 path. The Spark side arms the
    oversized-bucket guard (SIMHASH_MAX_BUCKET); with 500 docs no bucket can
    exceed it, so the unguarded SQL produces identical values."""
    from kaminpar_spark.functions.dedup import (
        SIMHASH128_BITS,
        _SIMHASH128_MULTS,
        simhash128_bands,
    )
    from kaminpar_spark.functions.hashing import char_poly_hash_sql

    streams = ",\n       ".join(
        f"{char_poly_hash_sql('tok', m)} AS h{s}" for s, m in enumerate(_SIMHASH128_MULTS)
    )
    votes = []
    for j in range(SIMHASH128_BITS):
        src, shift = f"h{j // 31}", j % 31
        votes.append(f"sum(CASE WHEN ({src} >> {shift}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}")
    votes_sql = ",\n       ".join(votes)
    lo_terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(62)
    )
    hi_terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << (j - 62)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(62, SIMHASH128_BITS)
    )

    def band_val_sql(start: int, width: int) -> str:
        if start + width <= 62:
            return f"(sim_lo >> {start}) & {(1 << width) - 1}"
        if start >= 62:
            return f"(sim_hi >> {start - 62}) & {(1 << width) - 1}"
        n_lo = 62 - start
        return (
            f"((sim_lo >> {start}) & {(1 << n_lo) - 1}) + "
            f"((sim_hi & {(1 << (width - n_lo)) - 1}) * {1 << n_lo})"
        )

    band_rows = "\nUNION ALL ".join(
        f"SELECT id, sim_lo, sim_hi, {i} AS band, {band_val_sql(s, w)} AS band_val FROM sh"
        for i, (s, w) in enumerate(simhash128_bands(SIMHASH_MAXHAM))
    )
    return f"""
WITH t0 AS (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
th AS MATERIALIZED (SELECT id, {streams} FROM t0 WHERE tok <> ''),
votes AS MATERIALIZED (SELECT id,
       {votes_sql}
       FROM th GROUP BY id),
sh AS MATERIALIZED (SELECT id, {lo_terms} AS sim_lo, {hi_terms} AS sim_hi FROM votes),
bands AS MATERIALIZED ({band_rows}),
pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
          CAST(bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
          FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
          AND a.id < b.id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAXHAM}"""


def _pii_scrub_sql() -> str:
    """DuckDB twin of pii_scrub over the same deterministic augmentation.
    The patterns use only character classes + bounded repetition, which Java
    regex (Spark) and RE2 (DuckDB) interpret identically."""
    from kaminpar_spark.functions.text import PII_EMAIL, PII_IPV4, PII_PHONE

    return f"""
WITH aug AS (SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)
  || '@ex' || CAST(doc_id % 5 AS VARCHAR) || '.org at 10.'
  || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 50 AS VARCHAR)
  || '.' || CAST(doc_id % 9 AS VARCHAR) || ' or +1 555 0'
  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS t FROM documents),
s1 AS (SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t FROM aug),
s2 AS (SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips,
       regexp_replace(t, '{PII_IPV4}', '<IP>', 'g') AS t FROM s1)
SELECT doc_id, n_emails, n_ips,
       CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(t, '{PII_PHONE}', '<PHONE>', 'g') AS scrubbed
FROM s2"""


_REPETITION_SQL = """
WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT id, w, unnest(range(greatest(len(w) - 1, 1))) AS i FROM toks),
grams AS (SELECT id, array_to_string(array_slice(w, i + 1, i + 2), ' ') AS gram
          FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 2), ' ') <> ''),
per AS (SELECT id, gram, count(*) AS c FROM grams GROUP BY id, gram)
SELECT id AS doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(max(c) AS BIGINT) AS top_bigram_count,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
FROM per GROUP BY id"""


def _kmv_sql() -> str:
    from kaminpar_spark.functions.hashing import POLY_MOD, char_poly_hash_sql
    from kaminpar_spark.functions.sketches import KMV_MIX

    scale = repr(float(KMV_K - 1) * POLY_MOD)  # exact integer-valued double
    th = f"(({char_poly_hash_sql('tok')}) * {KMV_MIX}) % {POLY_MOD}"
    return f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM toks),
tks AS MATERIALIZED (
  SELECT array_to_string(array_slice(w, i + 1, i + 3), ' ') AS tok FROM idx
  WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
hs AS (SELECT DISTINCT {th} AS h FROM tks),
kmv AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash
        FROM (SELECT h FROM hs ORDER BY h LIMIT {KMV_K})),
ex AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct FROM tks)
SELECT k_used, kth_hash,
       round(CASE WHEN k_used < {KMV_K} THEN CAST(k_used AS DOUBLE)
                  ELSE {scale} / kth_hash END, 4) AS est_distinct,
       exact_distinct
FROM kmv, ex"""


def _hll_sql() -> str:
    from kaminpar_spark.functions.sketches import hll_distinct_sql_ctes, hll_est_sql

    ctes = hll_distinct_sql_ctes("gram", "tks", p=HLL_P)
    return f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM toks),
tks AS MATERIALIZED (
  SELECT array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram FROM idx
  WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
{ctes},
ex AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS exact_distinct FROM tks)
SELECT m, filled_regs, denom, {hll_est_sql(HLL_P)}, exact_distinct
FROM hll, ex"""


def _cms_sql() -> str:
    from kaminpar_spark.functions.hashing import (
        POLY_MOD,
        char_poly_hash_sql,
        minhash_perms,
    )

    a, b = minhash_perms(CMS_DEPTH, seed=7)
    vals = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(CMS_DEPTH))
    return f"""
WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
tk AS (SELECT tok AS val FROM toks WHERE tok <> ''),
cnt AS (SELECT val, CAST(count(*) AS BIGINT) AS exact_count FROM tk GROUP BY val),
hs AS MATERIALIZED (SELECT val, exact_count, {char_poly_hash_sql('val')} AS h FROM cnt),
p(row, aa, bb) AS (VALUES {vals}),
cells AS (SELECT p.row, ((h * aa + bb) % {POLY_MOD}) % {CMS_WIDTH} AS bucket,
                 CAST(sum(exact_count) AS BIGINT) AS cell_count
          FROM hs, p GROUP BY 1, 2),
cand AS (SELECT val, exact_count, h FROM hs
         ORDER BY exact_count DESC, val LIMIT {CMS_TOP}),
cb AS (SELECT val, exact_count, p.row, ((h * aa + bb) % {POLY_MOD}) % {CMS_WIDTH} AS bucket
       FROM cand, p)
SELECT cb.val AS token, cb.exact_count, min(cell_count) AS cms_count,
       min(cell_count) - cb.exact_count AS overcount
FROM cb JOIN cells ON cb.row = cells.row AND cb.bucket = cells.bucket
GROUP BY cb.val, cb.exact_count"""


def _token_hash_list_sql() -> str:
    """Per-token character-poly-hash list over w (the token-level rolling
    scheme of dedup.token_window_hashes; empty tokens hash to 0, matching
    Spark's filtered char fold)."""
    from kaminpar_spark.functions.hashing import char_poly_hash_sql

    return (
        "list_transform(w, t -> CASE WHEN t = '' THEN CAST(0 AS BIGINT) "
        f"ELSE {char_poly_hash_sql('t')} END)"
    )


def _window_hash_sql(window: int) -> str:
    """Span hash at position i (1-based array math): polynomial fold (mult
    POLY_MULT2, seed 1 — a 0-seed would absorb leading empty tokens) over
    the window's token hashes — the twin of the nested aggregate in
    dedup.token_window_hashes."""
    from kaminpar_spark.functions.hashing import POLY_MOD, POLY_MULT2

    return (
        "list_reduce(list_prepend(CAST(1 AS BIGINT), "
        f"array_slice(th, i + 1, i + {window})), "
        f"(a, b) -> (a * {POLY_MULT2} + b) % {POLY_MOD})"
    )


def _dup_windows_sql() -> str:
    """Twin of dedup.repeated_window_stats at window=DUP_WINDOW (token-level
    rolling window hashes). dup_share is one exactly-rounded division of
    exact int64 counts — deterministic without rounding."""
    w = DUP_WINDOW
    return f"""
WITH toks AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
              WHERE len(string_split(lower(text), ' ')) > 1 OR string_split(lower(text), ' ')[1] <> ''),
th AS (SELECT id, {_token_hash_list_sql()} AS th, len(w) AS n FROM toks),
idx AS (SELECT id, th, unnest(range(greatest(n - {w - 1}, 1))) AS i FROM th),
wins AS MATERIALIZED (SELECT id, {_window_hash_sql(w)} AS wh FROM idx),
rep AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT id) >= 2)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) FILTER (WHERE wh IN (SELECT wh FROM rep)) AS BIGINT)
         AS n_dup_windows,
       CAST(count(*) FILTER (WHERE wh IN (SELECT wh FROM rep)) AS DOUBLE)
         / count(*) AS dup_share
FROM wins GROUP BY id"""


def _strip_dup_spans_sql() -> str:
    """Twin of dedup.strip_dup_spans: same token-level rolling window
    hashes, covered positions by +0..window-1 offsets, anti-join against the
    per-position token table, ordered string_agg re-assembly."""
    w = DUP_WINDOW
    return f"""
WITH tl AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w,
                   string_split(text, ' ') AS wo FROM documents),
thx AS (SELECT id, {_token_hash_list_sql()} AS th, len(w) AS n FROM tl
        WHERE len(w) > 1 OR w[1] <> ''),
idx AS (SELECT id, th, unnest(range(greatest(n - {w - 1}, 1))) AS i FROM thx),
wins AS MATERIALIZED (SELECT id, i, {_window_hash_sql(w)} AS wh FROM idx),
rep AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT id) >= 2),
cov AS MATERIALIZED (
  SELECT DISTINCT ws.id, ws.i + g.g AS pos
  FROM wins ws JOIN rep r ON ws.wh = r.wh
  CROSS JOIN (SELECT unnest(range({w})) AS g) g),
tk AS (SELECT id, wo, unnest(range(len(wo))) AS pos FROM tl),
kept AS (
  SELECT t.id, t.pos, t.wo[t.pos + 1] AS tok
  FROM tk t LEFT JOIN cov c ON t.id = c.id AND t.pos = c.pos
  WHERE c.id IS NULL),
agg AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY id)
SELECT d.doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN agg a ON d.doc_id = a.id"""


def _decontaminate_sql() -> str:
    from kaminpar_spark.functions.hashing import char_poly_hash_sql

    gh = char_poly_hash_sql("gram")
    return f"""
WITH toks AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents),
idx AS (SELECT id, w, unnest(range(greatest(len(w) - 4, 1))) AS i FROM toks),
grams AS (SELECT DISTINCT id, array_to_string(array_slice(w, i + 1, i + 5), ' ') AS gram
          FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 5), ' ') <> ''),
sh AS MATERIALIZED (SELECT DISTINCT id, {gh} AS h FROM grams),
ev AS (SELECT DISTINCT h FROM sh WHERE id % 50 = 0),
bad AS (SELECT DISTINCT sh.id FROM sh JOIN ev ON sh.h = ev.h)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM bad)"""


def _fingerprints_sql() -> str:
    from kaminpar_spark.functions.hashing import char_poly_hash_sql

    norm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    return f"SELECT doc_id, {char_poly_hash_sql(norm)} AS fingerprint FROM documents"


def _plane_dot_sql(plane) -> str:
    """One integer-lattice plane dot product with the SAME left-fold order as
    the Spark aggregate (bit-identical doubles across engines)."""
    lst = "[" + ",".join(str(int(x)) for x in plane) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {lst}[i])), (a, b) -> a + b)"
    )


def _hyperplane_bucket_sql(num_planes: int, seed: int = 42) -> str:
    """DuckDB twin of similarity.hyperplane_signatures."""
    from kaminpar_spark.functions.hashing import hyperplane_lattice

    planes = hyperplane_lattice(EMB_DIM, num_planes, seed)
    return " + ".join(
        f"(CASE WHEN {_plane_dot_sql(planes[i])} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(num_planes)
    )


def _lsh_topk_sql() -> str:
    """DuckDB twin of multi-table, multi-probe lsh_topk: LSH_TABLES
    independent plane sets (seed 42+t); per table the query's own bucket plus
    LSH_PROBE_FLIPS single-bit flips of its least-confident planes, ranked by
    (|dot|, idx) ascending (same struct-sort semantics as Spark's array_sort,
    so the probe sets agree bit-exactly); candidates deduped across tables."""
    from kaminpar_spark.functions.hashing import hyperplane_lattice

    csig_rows = "\nUNION ALL ".join(
        f"SELECT vec_id AS nn_id, {t} AS tbl, {_hyperplane_bucket_sql(LSH_PLANES, 42 + t)} AS sig FROM embeddings"
        for t in range(LSH_TABLES)
    )

    def qtable(t: int) -> str:
        planes = hyperplane_lattice(EMB_DIM, LSH_PLANES, 42 + t)
        dlist = ", ".join(
            f"{_plane_dot_sql(planes[i])} AS d{i}" for i in range(LSH_PLANES)
        )
        sig0 = " + ".join(
            f"(CASE WHEN d{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(LSH_PLANES)
        )
        structs = ", ".join(
            f"struct_pack(a := abs(d{i}), i := {i})" for i in range(LSH_PLANES)
        )
        return f"""SELECT qid, {t} AS tbl, unnest(list_prepend(sig0,
           list_transform(ranked[1:{LSH_PROBE_FLIPS}],
                          s -> xor(sig0, (CAST(1 AS BIGINT) << s.i))))) AS sig
  FROM (SELECT qid, {sig0} AS sig0, list_sort(list_value({structs})) AS ranked
        FROM (SELECT vec_id AS qid, {dlist} FROM embeddings WHERE vec_id < 5) d{t}q) b{t}"""

    qsig_rows = "\nUNION ALL ".join(qtable(t) for t in range(LSH_TABLES))
    return f"""
WITH csig AS MATERIALIZED ({csig_rows}),
qsig AS MATERIALIZED ({qsig_rows}),
cand AS (SELECT DISTINCT q.qid, c.nn_id FROM csig c
         JOIN qsig q ON c.tbl = q.tbl AND c.sig = q.sig AND c.nn_id <> q.qid),
scored AS (
  SELECT cand.qid, cand.nn_id,
         round(CAST(list_cosine_similarity(qe.embedding, ce.embedding) AS DOUBLE), 4) AS cos
  FROM cand JOIN embeddings qe ON cand.qid = qe.vec_id
            JOIN embeddings ce ON cand.nn_id = ce.vec_id)
SELECT qid, nn_id, cos FROM (
  SELECT qid, nn_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id ASC) AS rn
  FROM scored) t WHERE rn <= 10"""


def _pq_topk_sql(rerank: int | None = None) -> str:
    from kaminpar_spark.functions.similarity import (
        IVF_MIX_MOD,
        IVF_MIX_MULT,
        PQ_SCALE,
    )

    sub = EMB_DIM // PQ_M

    def l2(a: str, b: str) -> str:
        t = (
            f"(CAST({a}[sd.s*{sub}+i] AS DOUBLE) - CAST({b}[sd.s*{sub}+i] AS DOUBLE))"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {sub + 1}), i -> {t} * {t})), "
            f"(acc, v) -> acc + v)"
        )

    return f"""
WITH cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (
           ORDER BY (vec_id * {IVF_MIX_MULT}) % {IVF_MIX_MOD}, vec_id) - 1 AS INT) AS code,
         embedding AS cv
  FROM embeddings
  ORDER BY (vec_id * {IVF_MIX_MULT}) % {IVF_MIX_MOD}, vec_id LIMIT {PQ_CODES}),
sdim AS (SELECT CAST(unnest(range({PQ_M})) AS INT) AS s),
enc AS MATERIALIZED (
  SELECT e.vec_id AS nn_id, sd.s, c.code, {l2('e.embedding', 'c.cv')} AS d2
  FROM embeddings e CROSS JOIN sdim sd CROSS JOIN cent c),
codes AS MATERIALIZED (
  SELECT nn_id, s, code FROM (
    SELECT nn_id, s, code,
           row_number() OVER (PARTITION BY nn_id, s ORDER BY d2, code) AS rn
    FROM enc) t WHERE rn = 1),
qtab AS MATERIALIZED (
  SELECT q.vec_id AS qid, sd.s, c.code,
         CAST(floor(({l2('q.embedding', 'c.cv')}) * {PQ_SCALE}) AS BIGINT) AS q2
  FROM embeddings q CROSS JOIN sdim sd CROSS JOIN cent c WHERE q.vec_id < 5),
scored AS (
  SELECT t.qid, c.nn_id, CAST(sum(t.q2) AS BIGINT) AS adc
  FROM codes c JOIN qtab t ON c.s = t.s AND c.code = t.code
  WHERE c.nn_id <> t.qid
  GROUP BY t.qid, c.nn_id)
{_pq_final_sql(rerank)}"""


def _pq_final_sql(rerank: int | None) -> str:
    if rerank is None:
        return """SELECT qid, nn_id, adc FROM (
  SELECT qid, nn_id, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, nn_id) AS rn
  FROM scored) t WHERE rn <= 10"""
    cos = _fold_cos_sql("q.embedding", "e.embedding")
    return f""", cand AS MATERIALIZED (
  SELECT qid, nn_id FROM (
    SELECT qid, nn_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, nn_id) AS rn
    FROM scored) t WHERE rn <= {rerank}),
rescored AS (
  SELECT c.qid, c.nn_id, round({cos}, 4) AS cos
  FROM cand c JOIN embeddings q ON c.qid = q.vec_id
              JOIN embeddings e ON c.nn_id = e.vec_id)
SELECT qid, nn_id, cos FROM (
  SELECT qid, nn_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
  FROM rescored) t WHERE rn <= 10"""


def _fold_cos_sql(a: str, b: str) -> str:
    """DuckDB twin of similarity._cosine: left-fold dot and norms in the SAME
    order as Spark's aggregate, so the value is bit-identical (needed for the
    IVF argmax-assignment, where rounding can't hide a boundary flip)."""

    def fold(x: str, y: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE))), "
            f"(acc, v) -> acc + v)"
        )

    return f"({fold(a, b)}) / (sqrt({fold(a, a)}) * sqrt({fold(b, b)}))"


def _ivf_topk_sql(filter_label: bool = False) -> str:
    from kaminpar_spark.functions.similarity import IVF_MIX_MOD, IVF_MIX_MULT

    cos_vc = _fold_cos_sql("e.embedding", "c.cvec")
    cos_qe = _fold_cos_sql("eq.embedding", "ev.embedding")
    flt = (
        """
  JOIN embeddings la ON la.vec_id = a.nn_id
  JOIN embeddings lq ON lq.vec_id = q.qid AND la.label = lq.label"""
        if filter_label
        else ""
    )
    return f"""
WITH cent AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY (vec_id * {IVF_MIX_MULT}) % {IVF_MIX_MOD}, vec_id LIMIT {IVF_CENTROIDS}),
ac AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {cos_vc} AS ccos
  FROM embeddings e CROSS JOIN cent c),
assign AS MATERIALIZED (
  SELECT vec_id AS nn_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM ac) t WHERE rn = 1),
qcells AS (
  SELECT vec_id AS qid, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM ac WHERE vec_id < 5) t WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT q.qid, a.nn_id FROM qcells q JOIN assign a ON q.cell = a.cell{flt}
  WHERE a.nn_id <> q.qid),
scored AS (
  SELECT c.qid, c.nn_id, round({cos_qe}, 4) AS cos
  FROM cand c JOIN embeddings eq ON c.qid = eq.vec_id
              JOIN embeddings ev ON c.nn_id = ev.vec_id)
SELECT qid, nn_id, cos FROM (
  SELECT qid, nn_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rn
  FROM scored) t WHERE rn <= 10"""


_EXACT_TOPK_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS nn_id,
         round(CAST(list_cosine_similarity(q.qv, e.embedding) AS DOUBLE), 4) AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.qid)
SELECT qid, nn_id, cos FROM (
  SELECT qid, nn_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id ASC) AS rn
  FROM scored) t WHERE rn <= 10"""


def _recall_sql(approx_sql: str) -> str:
    """Recall@10 of an approximate ANN query against the exact brute-force
    top-k. Both sub-queries are the already-hash-exact oracle twins, so the
    recall value is deterministic and exactly reproducible."""
    return f"""
WITH exact AS MATERIALIZED (SELECT qid, nn_id FROM ({_EXACT_TOPK_SQL}) ex),
approx AS MATERIALIZED (SELECT qid, nn_id FROM ({approx_sql}) ap),
hit AS (SELECT count(*) AS n_hit FROM exact e
        WHERE EXISTS (SELECT 1 FROM approx a
                      WHERE a.qid = e.qid AND a.nn_id = e.nn_id)),
tot AS (SELECT count(*) AS n_tot FROM exact)
SELECT round(CAST(n_hit AS DOUBLE) / n_tot, 6) AS recall_at_10 FROM hit, tot"""


def _kmeans_sql(k: int = KMEANS_K) -> str:
    """DuckDB twin of similarity.kmeans_quantized (k cells, iters=2,
    unrolled). Exactness argument: quantized components are int64, so the
    per-cell sums are order-independent; every distance is the same
    left-to-right IEEE fold Spark runs (_kmeans_dist_expr), so assignments
    match bit-for-bit. Empty cells keep the previous centroid (LEFT JOIN +
    CASE), mirroring the Spark driver's dict update."""
    from kaminpar_spark.functions.similarity import (
        IVF_MIX_MOD,
        IVF_MIX_MULT,
        KMEANS_SCALE,
    )

    def dist(svec: str, n: str) -> str:
        d = f"(CAST(q.qv[i] AS DOUBLE) - CAST({svec}[i] AS DOUBLE) / CAST({n} AS DOUBLE))"
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {EMB_DIM + 1}), i -> {d} * {d})), "
            f"(acc, x) -> acc + x)"
        )

    def assign(cent: str, out: str) -> str:
        return f""",
{out} AS MATERIALIZED (
  SELECT id, qv, cid AS cell FROM (
    SELECT q.id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {dist('c.svec', 'c.n')} ASC, c.cid ASC) AS rn
    FROM q CROSS JOIN {cent} c) t WHERE rn = 1)"""

    def update(asg: str, prev: str, out: str) -> str:
        sums = ", ".join(f"CAST(sum(qv[{i + 1}]) AS BIGINT) AS s{i}" for i in range(EMB_DIM))
        lv = ", ".join(f"u.s{i}" for i in range(EMB_DIM))
        return f""",
u_{out} AS (SELECT cell, {sums}, count(*) AS n FROM {asg} GROUP BY cell),
{out} AS MATERIALIZED (
  SELECT c.cid,
         CASE WHEN u.cell IS NULL THEN c.svec ELSE list_value({lv}) END AS svec,
         CAST(coalesce(u.n, c.n) AS BIGINT) AS n
  FROM {prev} c LEFT JOIN u_{out} u ON c.cid = u.cell)"""

    steps, cent = "", "c0"
    for r in range(1, KMEANS_ITERS + 1):
        steps += assign(cent, f"a{r - 1}")
        steps += update(f"a{r - 1}", cent, f"c{r}")
        cent = f"c{r}"
    steps += assign(cent, "afinal")
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {float(KMEANS_SCALE)}) AS BIGINT)) AS qv
  FROM embeddings),
c0_seed AS MATERIALIZED (
  SELECT id AS cid, qv AS svec, CAST(1 AS BIGINT) AS n FROM q
  ORDER BY (id * {IVF_MIX_MULT}) % {IVF_MIX_MOD}, id LIMIT {k}),
c0 AS (SELECT * FROM c0_seed){steps}
SELECT id AS vec_id, CAST(cell AS BIGINT) AS cell FROM afinal"""


def _embedding_near_dups_sql() -> str:
    bucket = _hyperplane_bucket_sql(EMB_DUP_PLANES)
    return f"""
WITH sig AS MATERIALIZED (SELECT vec_id AS id, {bucket} AS sig FROM embeddings),
cand AS (SELECT a.id AS id_a, b.id AS id_b
         FROM sig a JOIN sig b ON a.sig = b.sig AND a.id < b.id)
SELECT id_a, id_b, cos FROM (
  SELECT c.id_a, c.id_b,
         round(CAST(list_cosine_similarity(ea.embedding, eb.embedding) AS DOUBLE), 4) AS cos
  FROM cand c JOIN embeddings ea ON c.id_a = ea.vec_id
              JOIN embeddings eb ON c.id_b = eb.vec_id) t
WHERE cos >= {EMB_DUP_THRESH}"""


_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       CAST(unnest(range(0, 500 + (doc_id % 7) * 350, 1000)) AS BIGINT) AS frame_ts_ms
FROM documents WHERE doc_id % 3 = 2"""


def _media_features_sql() -> str:
    """DuckDB twin of byte_histogram_features over media_from_documents.
    Decodes true UTF-8 BYTES via hex(encode(text)) (the r2 oracle used ord()
    over characters — silently wrong for non-ASCII) and LEFT-joins the
    histogram back to documents so empty-text docs keep their zero-bin row,
    matching the Spark kernel (ADVICE r2)."""
    from kaminpar_spark.functions.multimodal import BYTE_HIST_BINS

    hexd = "0123456789ABCDEF"
    byte = (
        f"(strpos('{hexd}', substr(hx, 2*i+1, 1)) - 1) * 16"
        f" + (strpos('{hexd}', substr(hx, 2*i+2, 1)) - 1)"
    )
    counts = ",\n       ".join(
        f"count(*) FILTER (WHERE bin = {j}) AS c{j}" for j in range(BYTE_HIST_BINS)
    )
    bins = ",\n       ".join(
        f"coalesce(floor(CAST(c{j} AS DOUBLE) / total * 1000000) / 1000000, 0.0) AS bin_{j:02d}"
        for j in range(BYTE_HIST_BINS)
    )
    return f"""
WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
b AS (SELECT doc_id,
             least(unnest(list_transform(range(length(hx) // 2),
                   i -> {byte})) // 8, {BYTE_HIST_BINS - 1}) AS bin
      FROM hx),
h AS (SELECT doc_id, count(*) AS total,
       {counts}
      FROM b GROUP BY doc_id)
SELECT d.doc_id AS media_id,
       CASE WHEN d.doc_id % 3 = 0 THEN 'image'
            WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(coalesce(h.total, 0) AS BIGINT) AS n_bytes,
       {bins}
FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id"""


# ---- partitioner-tier oracle SQL ----
def _core_hindex_sql() -> str:
    prev = "h0"
    steps = ""
    for t in range(1, CORE_ROUNDS + 1):
        steps += f""",
hh{t} AS MATERIALIZED (
  SELECT dst AS id, max(least(c, rn)) AS h FROM (
    SELECT e.dst, s.c, row_number() OVER (PARTITION BY e.dst ORDER BY s.c DESC) AS rn
    FROM edges e JOIN {prev} s ON e.src = s.id) t{t}
  GROUP BY dst),
h{t} AS MATERIALIZED (
  SELECT s.id, CAST(coalesce(hh.h, 0) AS BIGINT) AS c
  FROM {prev} s LEFT JOIN hh{t} hh ON s.id = hh.id)"""
        prev = f"h{t}"
    return f"""WITH {_EDGES_CTE},
h0 AS (SELECT id, degree AS c FROM deg){steps}
SELECT id, c AS core FROM {prev}"""


_SUBGRAPH_SQL = f"""WITH {_EDGES_CTE}
SELECT src, dst, weight FROM edges WHERE src % 4 = 0 AND dst % 4 = 0"""

_ISOLATED_RESCALE_SQL = f"""WITH {_EDGES_CTE},
kept AS (SELECT DISTINCT src AS id FROM edges WHERE weight >= 2),
counts AS (SELECT (SELECT count(*) FROM nodes) AS w_all, (SELECT count(*) FROM kept) AS w_kept)
SELECT CAST(w_kept AS BIGINT) AS n_kept,
       CAST(w_all - w_kept AS BIGINT) AS n_isolated,
       floor((CASE WHEN w_kept < w_all
              THEN (1 + CAST(0.03 AS DOUBLE)) * ceil(CAST(w_all AS DOUBLE) / 4)
                   / ceil(CAST(w_kept AS DOUBLE) / 4) - 1
              ELSE CAST(0.03 AS DOUBLE) END) * 1000000) / 1000000 AS eps_prime
FROM counts"""

_LP_HARDCAP_SQL = f"""WITH {_EDGES_CTE},
nn AS (SELECT count(*) AS n FROM nodes),
st AS (SELECT id, id % 4 AS label FROM nodes),
sc AS MATERIALIZED (SELECT e.dst AS id, s.label AS label, sum(e.weight) AS score
      FROM edges e JOIN st s ON e.src = s.id GROUP BY e.dst, s.label),
own AS (SELECT sc.id, sc.score AS cur_score FROM sc JOIN st ON sc.id = st.id AND sc.label = st.label),
best AS MATERIALIZED (SELECT id, label AS best_label, score AS best_score FROM (
    SELECT id, label, score,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc) t WHERE rn = 1),
cand AS MATERIALIZED (
  SELECT c.id, c.label AS cur_label,
         coalesce(o.cur_score, 0) AS cur_score,
         coalesce(b.best_label, c.label) AS best_label,
         coalesce(b.best_score, 0) AS best_score
  FROM st c LEFT JOIN best b ON c.id = b.id LEFT JOIN own o ON c.id = o.id),
movers AS (SELECT id, best_label, best_score - cur_score AS gain
           FROM cand WHERE best_label <> cur_label AND best_score > cur_score),
lw AS (SELECT label, count(*) AS label_weight FROM st GROUP BY label),
adm AS (SELECT m.id, m.best_label, lw.label_weight,
        sum(1) OVER (PARTITION BY m.best_label ORDER BY m.gain DESC, m.id ASC
                     ROWS UNBOUNDED PRECEDING) AS cum_w
        FROM movers m LEFT JOIN lw ON m.best_label = lw.label),
admitted AS (SELECT id, best_label FROM adm, nn
             WHERE coalesce(label_weight, 0) + cum_w <= n // 4 + 20)
SELECT c.id, CAST(coalesce(a.best_label, c.cur_label) AS BIGINT) AS label
FROM cand c LEFT JOIN admitted a ON c.id = a.id"""

_CAPPED_NEIGHBORS_SQL = f"""WITH {_EDGES_CTE},
capst AS (
  SELECT src, count(*) AS cdeg, min({_cap_key_sql()}) AS mk
  FROM edges GROUP BY src)
SELECT e.src, e.dst, e.weight
FROM edges e JOIN capst USING (src)
WHERE ({_cap_key_sql('e.src', 'e.dst')}) % capst.cdeg < {CAP_NEIGHBORS}
   OR ({_cap_key_sql('e.src', 'e.dst')}) = capst.mk"""


_DEGREE_PERM_SQL = f"""WITH {_EDGES_CTE}
SELECT id,
       CAST(row_number() OVER (
         ORDER BY (CASE WHEN degree = 0 THEN 0
                        ELSE CAST(floor(log2(degree)) AS INT) + 1 END), id) - 1
            AS BIGINT) AS new_id
FROM deg"""


_BALANCE_ROUND_SQL = f"""WITH {_EDGES_CTE},
nn AS (SELECT count(*) AS n FROM nodes),
part AS MATERIALIZED (
  SELECT id, CASE WHEN id < (SELECT n // 2 FROM nn) THEN 0 ELSE id % 4 END AS block
  FROM nodes),
cap AS (SELECT n // 4 + 10 AS mbw FROM nn),
bw AS MATERIALIZED (SELECT block, count(*) AS bweight FROM part GROUP BY block),
over_b AS (SELECT block, bweight - (SELECT mbw FROM cap) AS overload
           FROM bw WHERE bweight > (SELECT mbw FROM cap)),
sc AS MATERIALIZED (SELECT e.dst AS id, p.block AS label, sum(e.weight) AS score
      FROM edges e JOIN part p ON e.src = p.id GROUP BY e.dst, p.block),
cur_score AS (SELECT sc.id, sc.score AS cur_score
              FROM sc JOIN part ON sc.id = part.id AND sc.label = part.block),
movers AS (SELECT p.id, p.block, CAST(1 AS BIGINT) AS weight
           FROM part p JOIN over_b o ON p.block = o.block),
resid AS (SELECT block AS label, (SELECT mbw FROM cap) - bweight AS residual FROM bw),
cand AS MATERIALIZED (
  SELECT m.id, m.block, m.weight, s.label, r.residual,
         s.score - coalesce(cs.cur_score, 0) AS gain
  FROM movers m JOIN sc s ON m.id = s.id AND s.label <> m.block
       JOIN resid r ON s.label = r.label AND r.residual >= m.weight
       LEFT JOIN cur_score cs ON m.id = cs.id),
best AS MATERIALIZED (
  SELECT id, block, weight, gain, label AS target,
         CASE WHEN gain >= 0 THEN CAST(gain * weight AS DOUBLE)
              ELSE CAST(gain AS DOUBLE) / weight END AS rel_gain
  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY gain DESC, label ASC) AS rn
        FROM cand) t WHERE rn = 1),
lightest AS (SELECT block AS fb_target FROM bw
             WHERE bweight < (SELECT mbw FROM cap)
             ORDER BY bweight ASC, block ASC LIMIT 1),
no_target AS (
  SELECT m.id, m.block, m.weight, CAST(NULL AS BIGINT) AS gain,
         l.fb_target AS target, CAST('-infinity' AS DOUBLE) AS rel_gain
  FROM movers m, lightest l
  WHERE m.id NOT IN (SELECT id FROM best) AND l.fb_target <> m.block),
allc AS (SELECT id, block, weight, gain, target, rel_gain FROM best
         UNION ALL SELECT id, block, weight, gain, target, rel_gain FROM no_target),
allq AS MATERIALIZED (
  SELECT *, CASE WHEN rel_gain = CAST('-infinity' AS DOUBLE) THEN CAST(-4098 AS BIGINT)
                 ELSE CAST(greatest(-4096, least(4096, floor(rel_gain))) AS BIGINT)
            END AS gq
  FROM allc),
sgrp AS (SELECT block, gq, sum(weight) AS gw FROM allq GROUP BY block, gq),
sgc AS (SELECT g.block, g.gq, g.gw,
               o.overload - coalesce(sum(g.gw) OVER (
                 PARTITION BY g.block ORDER BY g.gq DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rem
        FROM sgrp g JOIN over_b o ON g.block = o.block),
adm_src_f AS MATERIALIZED (
  SELECT a.* FROM allq a JOIN sgc s ON a.block = s.block AND a.gq = s.gq
  WHERE s.rem > 0 AND (s.gw <= s.rem OR
        (CAST((a.id * 2654435761) % 2147483647 AS DOUBLE) / 2147483647.0) * s.gw < s.rem)),
tgrp AS (SELECT target, gq, sum(weight) AS gw FROM adm_src_f GROUP BY target, gq),
tgc AS (SELECT g.target, g.gq, g.gw,
               r.residual - coalesce(sum(g.gw) OVER (
                 PARTITION BY g.target ORDER BY g.gq DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rem
        FROM tgrp g JOIN resid r ON g.target = r.label),
admitted AS (
  SELECT a.id, CAST(a.target AS INT) AS new_block
  FROM adm_src_f a JOIN tgc t ON a.target = t.target AND a.gq = t.gq
  WHERE t.rem > 0 AND (t.gw <= t.rem OR
        (CAST((a.id * 2654435761) % 2147483647 AS DOUBLE) / 2147483647.0) * t.gw < t.rem))
SELECT p.id, CAST(coalesce(a.new_block, p.block) AS INT) AS block
FROM part p LEFT JOIN admitted a ON p.id = a.id"""


def _cc_profile_sql() -> str:
    """Per-threshold unrolled CC chains (the _cc_sql kernel over weight>=w
    edges), aggregated to (min_weight, n_components, largest_size)."""
    blocks, finals = "", []
    for w in CC_PROFILE_THRESH:
        blocks += f""",
t{w}e AS MATERIALIZED (SELECT src, dst FROM edges WHERE weight >= {w}),
t{w}c0 AS (SELECT id, id AS comp FROM nodes)"""
        prev = f"t{w}c0"
        for i in range(1, CC_STEPS + 1):
            blocks += f""",
t{w}c{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM t{w}e e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
t{w}c{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM t{w}c{i}a a LEFT JOIN t{w}c{i}a b ON a.comp = b.id)"""
            prev = f"t{w}c{i}"
        finals.append(f"""SELECT CAST({w} AS BIGINT) AS min_weight,
  CAST(count(DISTINCT comp) AS BIGINT) AS n_components,
  CAST((SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM {prev} GROUP BY comp)) AS BIGINT) AS largest_size
FROM {prev}""")
    union = "\nUNION ALL\n".join(finals)
    return f"WITH {_EDGES_CTE}{blocks}\n{union}"


def _eig_sql() -> str:
    """Unrolled power-iteration rounds on the symmetric weighted edges with
    the floor-div max rescale (operators/centrality.eigenvector_centrality)."""
    from kaminpar_spark.operators.centrality import EIG_SCALE

    steps, prev = "", "x0"
    for r in range(1, EIG_ITERS + 1):
        steps += f""",
xr{r} AS MATERIALIZED (
  SELECT e.dst AS id, sum(e.weight * x.s) AS raw
  FROM edges e JOIN {prev} x ON e.src = x.id GROUP BY e.dst),
x{r} AS MATERIALIZED (
  SELECT n.id,
         CAST(coalesce(xr.raw * {EIG_SCALE} // (SELECT max(raw) FROM xr{r}), 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN xr{r} xr ON n.id = xr.id)"""
        prev = f"x{r}"
    return f"""WITH {_EDGES_CTE},
x0 AS (SELECT id, CAST({EIG_SCALE} AS BIGINT) AS s FROM nodes){steps}
SELECT id, s AS eig FROM x{EIG_ITERS}"""


def _spectral_cte() -> str:
    """Unrolled deflated power-iteration rounds on sigma*I - L (operators/
    spectral.fiedler_scores), ending in ``fied`` (id, fiedler). Trunc-toward-
    zero division: Spark `div` and DuckDB `//` agree on signed BIGINTs
    (verified), so deflation and rescale are bit-exact across engines."""
    from kaminpar_spark.operators.spectral import SPECTRAL_SCALE

    sc = SPECTRAL_SCALE
    steps, prev = "", "sx0"
    for r in range(1, SPECTRAL_ITERS + 1):
        steps += f""",
sd{r} AS MATERIALIZED (
  SELECT id, s - (SELECT sum(s) // (SELECT count(*) FROM nodes) FROM {prev}) AS s
  FROM {prev}),
sax{r} AS MATERIALIZED (
  SELECT e.dst AS id, sum(e.weight * x.s) AS ax
  FROM edges e JOIN sd{r} x ON e.src = x.id GROUP BY e.dst),
sy{r} AS MATERIALIZED (
  SELECT d.id,
         ((SELECT sg FROM ssig) - dg.weighted_degree) * d.s
           + coalesce(ax.ax, 0) AS y
  FROM sd{r} d JOIN deg dg ON dg.id = d.id
  LEFT JOIN sax{r} ax ON ax.id = d.id),
sx{r} AS MATERIALIZED (
  SELECT id,
         CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END)
              * (abs(y) // (SELECT greatest(1, max(abs(y)) // {sc}) FROM sy{r}))
              AS BIGINT) AS s
  FROM sy{r})"""
        prev = f"sx{r}"
    return f""",
ssig AS (SELECT 2 * max(weighted_degree) AS sg FROM deg),
sx0 AS (SELECT id, CAST(((id * 37) % 2147483647 % 2 * 2 - 1) * {sc} AS BIGINT) AS s
        FROM nodes){steps},
fied AS MATERIALIZED (
  SELECT id,
         CAST(s - (SELECT sum(s) // (SELECT count(*) FROM nodes) FROM {prev})
              AS BIGINT) AS fiedler
  FROM {prev})"""


def _spectral_scores_sql() -> str:
    return f"""WITH {_EDGES_CTE}{_spectral_cte()}
SELECT id, fiedler FROM fied"""


def _spectral_cut_sql() -> str:
    return f"""WITH {_EDGES_CTE}{_spectral_cte()},
sside AS (SELECT id, CASE WHEN fiedler >= 0 THEN 1 ELSE 0 END AS side FROM fied)
SELECT
  CAST((SELECT coalesce(sum(CASE WHEN a.side <> b.side THEN e.weight ELSE 0 END), 0)
        FROM edges e JOIN sside a ON a.id = e.src JOIN sside b ON b.id = e.dst
        WHERE e.src < e.dst) AS BIGINT) AS cut_weight,
  CAST((SELECT sum(side) FROM sside) AS BIGINT) AS n_nonneg,
  CAST((SELECT sum(1 - side) FROM sside) AS BIGINT) AS n_neg"""


def _temporal_sql() -> str:
    """Unrolled earliest-arrival relaxation over distinct (src, dst, ts)
    triples; the time-respecting filter is e.ts >= u.arr."""
    ctes = """,
tlinks AS MATERIALIZED (
  SELECT lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
         actor AS a_dst, ts_s
  FROM actor_turns
  QUALIFY a_src IS NOT NULL AND a_src <> actor),
tedges AS MATERIALIZED (
  SELECT DISTINCT ns.id AS src, nd.id AS dst, l.ts_s AS ts
  FROM tlinks l JOIN nodes ns ON l.a_src = ns.actor
                JOIN nodes nd ON l.a_dst = nd.actor),
a0 AS (SELECT id, CASE WHEN id = 0 THEN CAST(0 AS BIGINT) END AS arr FROM nodes)"""
    for r in range(1, TEMPORAL_ROUNDS + 1):
        ctes += f""",
a{r} AS MATERIALIZED (
  SELECT s.id,
         CASE WHEN s.arr IS NULL THEN m.na
              WHEN m.na IS NULL THEN s.arr
              ELSE least(s.arr, m.na) END AS arr
  FROM a{r - 1} s LEFT JOIN (
    SELECT e.dst AS id, min(e.ts) AS na
    FROM tedges e JOIN a{r - 1} u ON u.id = e.src
    WHERE u.arr IS NOT NULL AND e.ts >= u.arr
    GROUP BY e.dst) m ON m.id = s.id)"""
    return f"""WITH {_EDGES_CTE}{ctes}
SELECT id, CAST(arr AS BIGINT) AS arrival
FROM a{TEMPORAL_ROUNDS} WHERE arr IS NOT NULL"""


def _cascade_sql() -> str:
    """Unrolled monotone threshold rounds: per round one active-neighbor
    count with HAVING >= k, anti-joined against the already-active set."""
    ctes = f""",
a0 AS (SELECT id, CAST(0 AS INT) AS round FROM nodes
       WHERE id % {CASCADE_SEED_MOD} = 0)"""
    for r in range(1, CASCADE_ROUNDS + 1):
        ctes += f""",
n{r} AS MATERIALIZED (
  SELECT e.dst AS id, CAST({r} AS INT) AS round
  FROM edges e JOIN a{r - 1} s ON e.src = s.id
  GROUP BY e.dst HAVING count(*) >= {CASCADE_K}),
a{r} AS MATERIALIZED (
  SELECT * FROM a{r - 1}
  UNION ALL
  SELECT n.id, n.round FROM n{r} n LEFT JOIN a{r - 1} p ON n.id = p.id
  WHERE p.id IS NULL)"""
    return f"""WITH {_EDGES_CTE}{ctes}
SELECT id, round FROM a{CASCADE_ROUNDS}"""


def _landmark_sql() -> str:
    """Top-degree landmark pick + the same unrolled multi-source
    min-relaxation as _harmonic_sql, then min-over-landmarks pair upper
    bounds for the id % LM_PAIR_MOD sample."""
    prev = "m0"
    steps = ""
    for i in range(1, LM_HOPS + 1):
        steps += f""",
m{i} AS MATERIALIZED (
  SELECT a.src, a.id,
         CASE WHEN a.dist IS NULL THEN c.nd WHEN c.nd IS NULL THEN a.dist
              ELSE least(a.dist, c.nd) END AS dist
  FROM {prev} a LEFT JOIN (
    SELECT r.src, e.dst AS id, MIN(r.dist + 1) AS nd
    FROM edges e JOIN {prev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY r.src, e.dst) c
  ON a.src = c.src AND a.id = c.id)"""
        prev = f"m{i}"
    return f"""WITH {_EDGES_CTE},
srcs AS (SELECT id AS src FROM deg ORDER BY degree DESC, id LIMIT {LM_COUNT}),
m0 AS (SELECT s.src, n.id,
              CASE WHEN n.id = s.src THEN CAST(0 AS BIGINT) END AS dist
       FROM nodes n CROSS JOIN srcs s){steps},
lu AS (SELECT src AS lm, id AS u, dist AS du FROM {prev}
       WHERE dist IS NOT NULL AND id % {LM_PAIR_MOD} = 0),
lv AS (SELECT src AS lm, id AS v, dist AS dv FROM {prev}
       WHERE dist IS NOT NULL AND id % {LM_PAIR_MOD} = 0)
SELECT lu.u, lv.v, CAST(min(du + dv) AS BIGINT) AS est_dist
FROM lu JOIN lv ON lu.lm = lv.lm AND lu.u < lv.v
GROUP BY lu.u, lv.v"""


def _temporal_tri_sql() -> str:
    """Triple self-join of the distinct (src, dst, ts) triples with the same
    strict ordering + window predicates as temporal_triangles; the smaller δ
    is a conditional sum over the δmax-bounded triple set."""
    d1, d2 = sorted(TEMPORAL_TRI_DELTAS)
    return f"""WITH {_EDGES_CTE},
tlinks AS MATERIALIZED (
  SELECT lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
         actor AS a_dst, ts_s
  FROM actor_turns
  QUALIFY a_src IS NOT NULL AND a_src <> actor),
tedges AS MATERIALIZED (
  SELECT DISTINCT ns.id AS src, nd.id AS dst, l.ts_s AS ts
  FROM tlinks l JOIN nodes ns ON l.a_src = ns.actor
                JOIN nodes nd ON l.a_dst = nd.actor),
tri AS (
  SELECT e1.ts AS t1, e3.ts AS t3
  FROM tedges e1
  JOIN tedges e2 ON e2.src = e1.dst AND e2.ts > e1.ts
                AND e2.ts <= e1.ts + {d2} AND e2.dst <> e1.src
  JOIN tedges e3 ON e3.src = e2.dst AND e3.dst = e1.src
                AND e3.ts > e2.ts AND e3.ts <= e1.ts + {d2})
SELECT CAST(coalesce(sum(CASE WHEN t3 <= t1 + {d1} THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS tri_d{d1},
       CAST(count(*) AS BIGINT) AS tri_d{d2}
FROM tri"""


def _katz_sql() -> str:
    """Unrolled weighted-walk chains k1..kK; katz = Σ inv_beta^(K-k)·walks_k."""
    K, ib = KATZ_HOPS, KATZ_INV_BETA
    ctes = """,
k1 AS MATERIALIZED (
  SELECT e.dst AS id, CAST(sum(e.weight) AS BIGINT) AS w FROM edges e GROUP BY 1)"""
    for k in range(2, K + 1):
        ctes += f""",
k{k} AS MATERIALIZED (
  SELECT e.dst AS id, CAST(sum(e.weight * p.w) AS BIGINT) AS w
  FROM edges e JOIN k{k - 1} p ON p.id = e.src GROUP BY 1)"""
    terms = " + ".join(
        f"coalesce(k{k}.w, 0) * {ib ** (K - k)}" for k in range(1, K + 1)
    )
    joins = "".join(
        f"\nLEFT JOIN k{k} ON k{k}.id = n.id" for k in range(1, K + 1)
    )
    return f"""WITH {_EDGES_CTE}{ctes}
SELECT n.id, CAST({terms} AS BIGINT) AS katz
FROM nodes n{joins}"""


def _louvain_ctes() -> tuple[str, str]:
    """Unrolled louvain_level(rounds=LOUVAIN_ROUNDS) twin: per step t —
    Σ_tot from the current state, k_in per adjacent community, the candidate
    union (adjacent ∪ current ∪ own-singleton), the exact-int gain
    v = m2·k_in − k·(Σ_tot − [c=cur]·k), argmax by (v, stay-pref, min comm),
    parity-gated move."""
    steps = LOUVAIN_ROUNDS * 2
    ctes = """,
m2t AS (SELECT CAST(sum(weight) AS BIGINT) AS m2 FROM edges),
comm0 AS MATERIALIZED (SELECT id, id AS comm FROM nodes)"""
    for t in range(steps):
        ctes += f""",
sig{t} AS MATERIALIZED (
  SELECT c.comm, CAST(sum(d.weighted_degree) AS BIGINT) AS sigma
  FROM comm{t} c JOIN deg d ON d.id = c.id GROUP BY c.comm),
kin{t} AS MATERIALIZED (
  SELECT e.dst AS id, cs.comm, CAST(sum(e.weight) AS BIGINT) AS w_in
  FROM edges e JOIN comm{t} cs ON cs.id = e.src GROUP BY 1, 2),
cand{t} AS (
  SELECT ck.id, ck.comm,
         coalesce(k.w_in, 0) * (SELECT m2 FROM m2t)
           - d.weighted_degree * (coalesce(s.sigma, 0)
               - CASE WHEN ck.comm = cur.comm THEN d.weighted_degree ELSE 0 END) AS v,
         CASE WHEN ck.comm = cur.comm THEN 1 ELSE 0 END AS c
  FROM (SELECT id, comm FROM kin{t}
        UNION SELECT id, comm FROM comm{t}
        UNION SELECT id, id AS comm FROM comm{t}) ck
  LEFT JOIN kin{t} k ON k.id = ck.id AND k.comm = ck.comm
  LEFT JOIN sig{t} s ON s.comm = ck.comm
  JOIN deg d ON d.id = ck.id
  JOIN comm{t} cur ON cur.id = ck.id),
comm{t + 1} AS MATERIALIZED (
  SELECT b.id,
         CAST(CASE WHEN b.id % 2 = {t % 2} THEN b.comm ELSE cur.comm END AS BIGINT) AS comm
  FROM (SELECT id, comm,
               row_number() OVER (PARTITION BY id ORDER BY v DESC, c DESC, comm ASC) AS rn
        FROM cand{t}) b
  JOIN comm{t} cur ON cur.id = b.id
  WHERE b.rn = 1)"""
    return ctes, f"comm{steps}"


def _louvain_sql() -> str:
    ctes, final = _louvain_ctes()
    return f"""WITH {_EDGES_CTE}{ctes}
SELECT id, comm FROM {final}"""


def _partition_verify_sql() -> str:
    """Recompute the partition_verify metrics from the SAME (id, block)
    snapshot the Spark side wrote (verify_partition.cc analog). Node weights
    are the graph constructor's (GraphFrame.from_edge_pairs gives every
    transcript actor weight 1); W = sum(weight) and the cap is
    rules.max_block_weight from W and the max node weight:
    floor((1+eps) * ceil(W/k)), raised to ceil(W/k) + max node weight when
    that exceeds 1 — int() truncation == floor for positive doubles, and
    both engines evaluate the same IEEE multiply."""
    snap = _partition_snapshot_path(
        os.path.basename(
            os.path.normpath(
                os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
            )
        )
    )
    return f"""WITH {_EDGES_CTE},
part AS MATERIALIZED (SELECT id, block FROM read_parquet('{snap}/*.parquet')),
pcut AS (
  SELECT CAST(sum(CASE WHEN ps.block <> pd.block THEN e.weight ELSE 0 END) // 2 AS BIGINT) AS cut
  FROM edges e JOIN part ps ON e.src = ps.id JOIN part pd ON e.dst = pd.id),
wnodes AS (SELECT id, CAST(1 AS BIGINT) AS weight FROM nodes),
bw AS (
  SELECT CAST(max(w) AS BIGINT) AS max_block_weight, CAST(count(*) AS BIGINT) AS n_blocks
  FROM (SELECT p.block, sum(n.weight) AS w FROM wnodes n JOIN part p ON n.id = p.id GROUP BY p.block)),
tw AS (
  SELECT CAST(sum(weight) AS BIGINT) AS total_weight, CAST(max(weight) AS BIGINT) AS max_nw,
         CAST(ceil(sum(weight) / {PV_K}.0) AS BIGINT) AS perfect
  FROM wnodes)
SELECT CAST({PV_K} AS BIGINT) AS k, tw.total_weight, pcut.cut, bw.max_block_weight,
       bw.n_blocks,
       bw.max_block_weight
         <= CASE WHEN tw.max_nw > 1
                 THEN greatest(CAST(floor({1 + PV_EPS!r} * tw.perfect) AS BIGINT),
                               tw.perfect + tw.max_nw)
                 ELSE CAST(floor({1 + PV_EPS!r} * tw.perfect) AS BIGINT) END
         AS feasible
FROM pcut, bw, tw"""


def _partition_agreement_sql() -> str:
    """Exact pair-counting ARI between the LP1 labels and the Louvain-level
    communities: contingency n_ij over the id join, doubled pair counts
    s2/a2/b2/t2 all int64, one final IEEE ratio (every intermediate < 2^53 at
    oracle scale, so the doubles are exact) mirroring
    operators/metrics.pair_counting_agreement."""
    ctes, final = _louvain_ctes()
    return f"""WITH {_EDGES_CTE}{ctes},
sc AS MATERIALIZED (SELECT dst AS id, src AS label, sum(weight) AS score FROM edges GROUP BY dst, src),
best AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
    FROM sc) t WHERE rn = 1),
lp AS (SELECT n.id, CAST(coalesce(b.label, n.id) AS BIGINT) AS la
       FROM nodes n LEFT JOIN best b ON n.id = b.id),
ct AS (SELECT lp.la, c.comm AS lb, CAST(count(*) AS BIGINT) AS n_ij
       FROM lp JOIN {final} c ON c.id = lp.id GROUP BY 1, 2),
srow AS (SELECT CAST(sum(n_ij * (n_ij - 1)) AS BIGINT) AS s2,
                CAST(sum(n_ij) AS BIGINT) AS n_nodes FROM ct),
arow AS (SELECT CAST(sum(ai * (ai - 1)) AS BIGINT) AS a2
         FROM (SELECT sum(n_ij) AS ai FROM ct GROUP BY la)),
brow AS (SELECT CAST(sum(bi * (bi - 1)) AS BIGINT) AS b2
         FROM (SELECT sum(n_ij) AS bi FROM ct GROUP BY lb))
SELECT n_nodes, s2, a2, b2,
       CAST(n_nodes * (n_nodes - 1) AS BIGINT) AS t2,
       CASE WHEN CAST(n_nodes * (n_nodes - 1) AS DOUBLE)
                   * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                 - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE) = 0.0
            THEN 1.0
            ELSE round(
              (2.0 * CAST(s2 AS DOUBLE) * CAST(n_nodes * (n_nodes - 1) AS DOUBLE)
                 - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE))
              / (CAST(n_nodes * (n_nodes - 1) AS DOUBLE)
                   * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                 - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)), 6) END AS ari
FROM srow, arow, brow"""


def _louvain_modularity_sql() -> str:
    """Exact-rational modularity of the 4-step Louvain labels:
    Q = (A·2m − B) / (2m)² with A = Σ_c w_in(c), B = Σ_c tot(c)² — all
    int64, so community QUALITY itself is hash-checked, plus the one-IEEE-
    division double."""
    ctes, final = _louvain_ctes()
    return f"""WITH {_EDGES_CTE}{ctes},
lm2 AS (SELECT CAST(sum(weight) AS BIGINT) AS m2 FROM edges),
lintl AS (
  SELECT CAST(coalesce(sum(e.weight), 0) AS BIGINT) AS a
  FROM edges e JOIN {final} l1 ON e.src = l1.id JOIN {final} l2 ON e.dst = l2.id
  WHERE l1.comm = l2.comm),
ltot AS (
  SELECT CAST(sum(t * t) AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS n_comms
  FROM (SELECT l.comm, CAST(sum(d.weighted_degree) AS BIGINT) AS t
        FROM deg d JOIN {final} l ON d.id = l.id GROUP BY l.comm))
SELECT ltot.n_comms,
       CAST(lintl.a * lm2.m2 - ltot.b AS BIGINT) AS q_num,
       CAST(lm2.m2 * lm2.m2 AS BIGINT) AS q_den,
       CAST(lintl.a * lm2.m2 - ltot.b AS DOUBLE) / CAST(lm2.m2 * lm2.m2 AS DOUBLE) AS modularity
FROM lintl, ltot, lm2"""


def _stress_sql() -> str:
    """Unrolled Brandes: forward sigma levels f0..fH (anti-join keeps first
    discovery), backward integer g accumulation bH..b0 (DAG edge = dist+1),
    stress = sum over sources of sigma*g for interior nodes."""
    H = STRESS_HOPS
    ctes = f""",
srcs AS (SELECT id AS s FROM nodes WHERE id % {HARMONIC_SRC_MOD} = 0),
f0 AS MATERIALIZED (
  SELECT s, s AS id, CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma
  FROM srcs)"""
    for h in range(1, H + 1):
        ctes += f""",
f{h} AS MATERIALIZED (
  SELECT * FROM f{h - 1}
  UNION ALL
  SELECT c.s, c.id, CAST({h} AS BIGINT) AS dist, c.sigma
  FROM (
    SELECT p.s, e.dst AS id, CAST(sum(p.sigma) AS BIGINT) AS sigma
    FROM f{h - 1} p JOIN edges e ON e.src = p.id
    WHERE p.dist = {h - 1}
    GROUP BY p.s, e.dst) c
  ANTI JOIN f{h - 1} x ON x.s = c.s AND x.id = c.id)"""
    ctes += f""",
b{H} AS MATERIALIZED (
  SELECT s, id, dist, sigma, CAST(0 AS BIGINT) AS g FROM f{H}
  WHERE dist = {H})"""
    for lev in range(H - 1, -1, -1):
        ctes += f""",
b{lev} AS MATERIALIZED (
  SELECT * FROM b{lev + 1}
  UNION ALL
  SELECT f.s, f.id, f.dist, f.sigma, CAST(coalesce(x.gsum, 0) AS BIGINT) AS g
  FROM f{H} f LEFT JOIN (
    SELECT w.s, e.src AS id, sum(1 + w.g) AS gsum
    FROM b{lev + 1} w JOIN edges e ON e.dst = w.id
    WHERE w.dist = {lev + 1}
    GROUP BY w.s, e.src) x ON x.s = f.s AND x.id = f.id
  WHERE f.dist = {lev})"""
    return f"""WITH {_EDGES_CTE}{ctes}
SELECT n.id, CAST(coalesce(sum(a.sigma * a.g), 0) AS BIGINT) AS stress
FROM nodes n LEFT JOIN (SELECT * FROM b0 WHERE id <> s) a ON n.id = a.id
GROUP BY n.id"""


def _nbr_mean_sql() -> str:
    """GraphSAGE mean-aggregator twin: same id-mod feature assignment, same
    floor(feat * 2^20) int64 lattice, sums grouped by (node, pos), ONE double
    division per component, list re-assembled ordered by pos."""
    from kaminpar_spark.operators.gnn import QUANT_SCALE

    s = QUANT_SCALE
    return f"""WITH {_EDGES_CTE},
feat AS MATERIALIZED (
  SELECT n.id, e.embedding
  FROM nodes n JOIN embeddings e
    ON n.id % (SELECT count(*) FROM embeddings) = e.vec_id),
q AS MATERIALIZED (
  SELECT id, p.pos,
         CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE) * {s}) AS BIGINT) AS qv
  FROM feat CROSS JOIN (SELECT unnest(range({EMB_DIM})) AS pos) p),
gath AS (SELECT e.dst AS id, q.pos, q.qv FROM edges e JOIN q ON e.src = q.id),
agg AS (SELECT id, pos, sum(qv) AS s, count(*) AS c FROM gath GROUP BY id, pos)
SELECT id, CAST(c AS BIGINT) AS n_nbrs, CAST(pos AS BIGINT) AS pos,
       CAST(s AS DOUBLE) / ({s}.0 * c) AS value
FROM agg"""


def _msf_chain() -> tuple[str, list[str]]:
    """Unrolled Boruvka CTE chain (shared by the msf_bounded and backbone2
    oracles): per round, per-component lexicographic-min cross edge
    (row_number over (weight, a, b) == the engine's min-struct),
    canonicalized pair dedup, then MSF_UNION_STEPS hash-to-min +
    pointer-doubling label merges. Returns (ctes, [sel1, sel2, ...])."""
    s = """,
mc0 AS MATERIALIZED (SELECT id, id AS comp FROM nodes)"""
    prev_comp = "mc0"
    outs = []
    for r in range(1, MSF_ROUNDS + 1):
        s += f""",
x{r} AS (
  SELECT e.src, e.dst, e.weight, cs.comp AS ca0, cd.comp AS cb0
  FROM edges e JOIN {prev_comp} cs ON e.src = cs.id
               JOIN {prev_comp} cd ON e.dst = cd.id
  WHERE cs.comp <> cd.comp),
p{r} AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b, weight,
         least(ca0, cb0) AS ca, greatest(ca0, cb0) AS cb
  FROM (SELECT *, row_number() OVER (
          PARTITION BY ca0
          ORDER BY weight, least(src, dst), greatest(src, dst)) AS rn
        FROM x{r})
  WHERE rn = 1),
sel{r} AS MATERIALIZED (
  SELECT a, b, weight, min(ca) AS ca, max(cb) AS cb
  FROM p{r} GROUP BY a, b, weight),
pr{r} AS (SELECT ca AS u, cb AS v FROM sel{r}
          UNION ALL SELECT cb AS u, ca AS v FROM sel{r}),
st{r}_0 AS (SELECT DISTINCT comp, comp AS label FROM {prev_comp})"""
        prev_st = f"st{r}_0"
        for k in range(1, MSF_UNION_STEPS + 1):
            s += f""",
st{r}_{k}a AS (
  SELECT t.comp, least(t.label, coalesce(m.nmin, t.label)) AS label
  FROM {prev_st} t LEFT JOIN (
    SELECT p.u AS comp, min(t2.label) AS nmin
    FROM pr{r} p JOIN {prev_st} t2 ON p.v = t2.comp GROUP BY p.u) m
  ON t.comp = m.comp),
st{r}_{k} AS MATERIALIZED (
  SELECT a.comp, coalesce(b.label, a.label) AS label
  FROM st{r}_{k}a a LEFT JOIN st{r}_{k}a b ON a.label = b.comp)"""
            prev_st = f"st{r}_{k}"
        s += f""",
mc{r} AS MATERIALIZED (
  SELECT c.id, coalesce(l.label, c.comp) AS comp
  FROM {prev_comp} c LEFT JOIN {prev_st} l ON c.comp = l.comp)"""
        prev_comp = f"mc{r}"
        outs.append(f"sel{r}")
    return s, outs


def _msf_sql() -> str:
    """Unrolled Boruvka mirror of _q_msf_bounded (incl. the cross-round
    first-pick dedup: a partially-merged round may re-pick an edge)."""
    ctes, sels = _msf_chain()
    outs = [
        f"SELECT a, b, weight, {i} AS r FROM {sel}"
        for i, sel in enumerate(sels, start=1)
    ]
    union = "\n  UNION ALL ".join(outs)
    return f"""WITH {_EDGES_CTE}{ctes}
SELECT a, b, weight, CAST(min(r) AS INT) AS round FROM (
  {union})
GROUP BY a, b, weight"""


def _backbone_sql() -> str:
    """Mirror of _q_backbone: bounded-MSF sel rounds ∪ per-node top-k by
    (weight DESC, dst) — row_number rn<=k is set-equal to the engine's k
    argmax/anti-join passes under the same total order."""
    ctes, sels = _msf_chain()
    parts = [f"SELECT a, b, weight FROM {sel}" for sel in sels]
    parts.append("SELECT a, b, weight FROM tk")
    union = "\n  UNION ALL ".join(parts)
    return f"""WITH {_EDGES_CTE}{ctes},
tk AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b, weight
  FROM (SELECT src, dst, weight, row_number() OVER (
          PARTITION BY src ORDER BY weight DESC, dst) AS rn FROM edges) x
  WHERE rn <= {BACKBONE_K})
SELECT DISTINCT a, b, weight FROM (
  {union})"""


# must mirror kaminpar_spark.operators.anf.ANF_A / ANF_B
_ANF_A = (10007, 10093, 10159, 10247)
_ANF_B = (7, 11, 13, 17)


def _anf_chain() -> str:
    """CTE chain af0..af{ANF_ROUNDS}: FM geometric init bit (h & -h over the
    affine residue) + bit_or supersteps. Shared by the anf_ranks3 and
    hop_plot3 oracles."""
    K, R = ANF_STREAMS, ANF_ROUNDS
    init = ",\n       ".join(
        f"((({_ANF_A[i]}*id + {_ANF_B[i]}) % 2147483647) + 1)"
        f" & (-((({_ANF_A[i]}*id + {_ANF_B[i]}) % 2147483647) + 1)) AS m{i}"
        for i in range(K)
    )
    s = f""",
af0 AS MATERIALIZED (SELECT id, {init} FROM nodes)"""
    prev = "af0"
    for r in range(1, R + 1):
        ors = ",\n         ".join(
            f"s.m{i} | coalesce(n.m{i}, 0) AS m{i}" for i in range(K)
        )
        aggs = ", ".join(f"bit_or(c.m{i}) AS m{i}" for i in range(K))
        s += f""",
af{r} AS MATERIALIZED (
  SELECT s.id, {ors}
  FROM {prev} s LEFT JOIN (
    SELECT e.dst AS id, {aggs}
    FROM edges e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) n
  ON s.id = n.id)"""
        prev = f"af{r}"
    return s


def _anf_rank_exprs() -> str:
    """Per-mask lowest-zero rank: bit_count(((~m) & (m+1)) - 1)."""
    return " + ".join(
        f"bit_count(((~m{i}) & (m{i}+1)) - 1)" for i in range(ANF_STREAMS)
    )


def _anf_sql() -> str:
    """Unrolled ANF mirror of _q_anf_ranks (masks + ranks after the final
    superstep)."""
    K = ANF_STREAMS
    ranks = ",\n       ".join(
        f"CAST(bit_count(((~m{i}) & (m{i}+1)) - 1) AS BIGINT) AS r_m{i}"
        for i in range(K)
    )
    cols = ", ".join(f"m{i}" for i in range(K))
    return f"""WITH {_EDGES_CTE}{_anf_chain()}
SELECT id, {cols},
       {ranks},
       CAST({_anf_rank_exprs()} AS BIGINT) AS r_sum
FROM af{ANF_ROUNDS}"""


def _hop_plot_sql() -> str:
    """Unrolled mirror of _q_hop_plot: global rank sums at every level of
    the same ANF chain."""
    rsum = _anf_rank_exprs()
    levels = [
        f"SELECT CAST({t} AS INT) AS t,"
        f" CAST(sum({rsum}) AS BIGINT) AS total_r FROM af{t}"
        for t in range(ANF_ROUNDS + 1)
    ]
    return f"WITH {_EDGES_CTE}{_anf_chain()}\n" + "\nUNION ALL ".join(levels)


def _pagerank_directed_sql() -> str:
    """Unrolled directed-PR mirror of _q_pagerank_directed: per superstep,
    dangling mass (out-degree-0 ranks) redistributed uniformly, in-sums over
    the directed dedges, rank' = (1-d)/n + d*dm/n + d*in_sum."""
    prev = "dr0"
    steps = ""
    for i in range(1, PR_DIR_ITERS + 1):
        steps += f""",
dm{i} AS (SELECT coalesce(sum(r.rank), 0) AS dm
          FROM {prev} r JOIN odeg d ON r.id = d.id WHERE d.odeg = 0),
dr{i} AS MATERIALIZED (
  SELECT nd.id,
         (0.15 / (SELECT n FROM nn))
         + 0.85 * (SELECT dm FROM dm{i}) / (SELECT n FROM nn)
         + 0.85 * coalesce(s.x, 0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.odeg) AS x
    FROM dedges e JOIN {prev} r ON e.src = r.id JOIN odeg d ON e.src = d.id
    GROUP BY e.dst) s
  ON nd.id = s.id)"""
        prev = f"dr{i}"
    return f"""WITH {_EDGES_CTE},
dedges AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight FROM pairs GROUP BY src, dst),
odeg AS MATERIALIZED (
  SELECT n.id, CAST(coalesce(o.d, 0) AS DOUBLE) AS odeg
  FROM nodes n LEFT JOIN (
    SELECT src AS id, count(*) AS d FROM dedges GROUP BY src) o ON n.id = o.id),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
dr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes){steps}
SELECT id, round(rank, 6) AS rank FROM {prev}"""


def _ktruss_sql() -> str:
    """Unrolled k-truss mirror of _q_ktruss: per round, degree-ordered
    orientation, wedge + closing-edge triangle enumeration, per-edge support
    credit, peel at support >= k-2."""
    s = """,
t0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)"""
    for r in range(1, KTRUSS_ROUNDS + 1):
        p = r - 1
        s += f""",
adj{r} AS (SELECT a AS u, b AS v FROM t{p} UNION ALL SELECT b AS u, a AS v FROM t{p}),
dg{r} AS (SELECT u, count(*) AS d FROM adj{r} GROUP BY u),
ori{r} AS MATERIALIZED (
  SELECT e.u, e.v
  FROM adj{r} e JOIN dg{r} du ON e.u = du.u JOIN dg{r} dv ON e.v = dv.u
  WHERE (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)),
tri{r} AS (
  SELECT w1.u, w1.v, w2.v AS w
  FROM ori{r} w1 JOIN ori{r} w2 ON w1.v = w2.u
                 JOIN ori{r} c ON c.u = w1.u AND c.v = w2.v),
sides{r} AS (
  SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri{r}
  UNION ALL SELECT least(v, w), greatest(v, w) FROM tri{r}
  UNION ALL SELECT least(u, w), greatest(u, w) FROM tri{r}),
sup{r} AS MATERIALIZED (
  SELECT t.a, t.b, CAST(coalesce(s.c, 0) AS BIGINT) AS support
  FROM t{p} t LEFT JOIN (
    SELECT a, b, count(*) AS c FROM sides{r} GROUP BY a, b) s
  ON t.a = s.a AND t.b = s.b),
t{r} AS MATERIALIZED (
  SELECT a, b FROM sup{r} WHERE support >= {KTRUSS_K - 2})"""
    return f"""WITH {_EDGES_CTE}{s}
SELECT a, b, support FROM sup{KTRUSS_ROUNDS} WHERE support >= {KTRUSS_K - 2}"""



# ---- round-3 session-addition oracles ----
_TRANSITIVITY_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
t AS (SELECT count(*) AS tri FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
      JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
w AS (SELECT sum(degree * (degree - 1) // 2) AS wedges FROM deg)
SELECT CAST(3 * t.tri AS BIGINT) AS closed_wedges,
       CAST(w.wedges AS BIGINT) AS wedges,
       round(CAST(3 * t.tri AS DOUBLE) / w.wedges, 6) AS transitivity
FROM t, w"""

_RECTANGLES_SQL = f"""WITH {_EDGES_CTE},
cn AS (SELECT l.dst AS u, r.dst AS w, count(*) AS c
       FROM edges l JOIN edges r ON l.src = r.src AND l.dst < r.dst
       GROUP BY 1, 2 HAVING count(*) >= 2),
s AS (SELECT count(*) AS codeg_pairs, sum(c * (c - 1) // 2) AS diag_pairs FROM cn)
SELECT CAST(codeg_pairs AS BIGINT) AS codeg_pairs,
       CAST(diag_pairs AS BIGINT) AS diag_pairs,
       CAST(diag_pairs // 2 AS BIGINT) AS rectangles
FROM s"""

_TWO_HOP_SQL = f"""WITH {_EDGES_CTE},
seeds AS (SELECT id AS src FROM nodes WHERE id % {TWO_HOP_SRC_MOD} = 0),
one AS (SELECT s.src, e.dst AS id FROM seeds s JOIN edges e ON e.src = s.src),
two AS (SELECT o.src, e.dst AS id FROM one o JOIN edges e ON e.src = o.id),
ball AS (SELECT src, id FROM one UNION SELECT src, id FROM two
         UNION SELECT src, src AS id FROM seeds)
SELECT src, CAST(count(*) AS BIGINT) AS ball_size FROM ball GROUP BY src"""


def _anf_rank_hist_sql() -> str:
    """Per-level GROUP BY r_sum over the shared unrolled ANF chain."""
    rsum = _anf_rank_exprs()
    levels = [
        f"SELECT CAST({t} AS INT) AS t, CAST({rsum} AS BIGINT) AS r_sum,"
        f" CAST(count(*) AS BIGINT) AS cnt FROM af{t} GROUP BY 2"
        for t in range(ANF_ROUNDS + 1)
    ]
    return f"WITH {_EDGES_CTE}{_anf_chain()}\n" + "\nUNION ALL ".join(levels)


_WEIGHTED_JACCARD_SQL = f"""
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents WHERE doc_id < 300),
idx AS (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM d),
sh AS (
  SELECT doc_id, array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram
  FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
cnt AS (SELECT doc_id, gram, count(*) AS c FROM sh GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c) AS tot FROM cnt GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(least(a.c, b.c)) AS w_inter
  FROM cnt a JOIN cnt b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       CAST(i.w_inter AS BIGINT) AS w_inter,
       CAST(ta.tot + tb.tot - i.w_inter AS BIGINT) AS w_union,
       CAST(i.w_inter AS DOUBLE) / (ta.tot + tb.tot - i.w_inter) AS w_jaccard
FROM inter i JOIN tot ta ON i.id_a = ta.doc_id JOIN tot tb ON i.id_b = tb.doc_id
WHERE CAST(i.w_inter AS DOUBLE) / (ta.tot + tb.tot - i.w_inter) >= {WJ_THRESH}"""


def _bipartite_sql() -> str:
    """CC chain (same as _cc_sql) -> min-id roots -> one SHARED unrolled BFS
    from all roots (disjoint components) -> parity colors -> per-component
    conflict-edge count, NULL verdict when any endpoint is unreached."""
    prev = "c0"
    steps = ""
    for i in range(1, CC_STEPS + 1):
        steps += f""",
c{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM edges e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
c{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM c{i}a a LEFT JOIN c{i}a b ON a.comp = b.id)"""
        prev = f"c{i}"
    bprev = "b0"
    bf = ""
    for i in range(1, BIPARTITE_HOPS + 1):
        bf += f""",
b{i} AS MATERIALIZED (
  SELECT a.id,
         CASE WHEN a.dist IS NULL THEN m.nd WHEN m.nd IS NULL THEN a.dist
              ELSE least(a.dist, m.nd) END AS dist
  FROM {bprev} a LEFT JOIN (
    SELECT e.dst AS id, MIN(r.dist + 1) AS nd
    FROM edges e JOIN {bprev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY e.dst) m ON a.id = m.id)"""
        bprev = f"b{i}"
    return f"""WITH {_EDGES_CTE},
c0 AS (SELECT id, id AS comp FROM nodes){steps},
cc AS (SELECT id, comp FROM {prev}),
roots AS (SELECT DISTINCT comp AS id FROM cc),
b0 AS (SELECT n.id, CASE WHEN r.id IS NOT NULL THEN CAST(0 AS BIGINT) END AS dist
       FROM nodes n LEFT JOIN roots r ON n.id = r.id){bf},
st AS (SELECT cc.id, cc.comp, col.dist % 2 AS color
       FROM cc JOIN {bprev} col ON cc.id = col.id),
ev AS (SELECT sa.comp,
              sum(CASE WHEN sa.color IS NOT NULL AND sa.color = sb.color
                       THEN 1 ELSE 0 END) AS conflict_edges,
              sum(CASE WHEN sa.color IS NULL OR sb.color IS NULL
                       THEN 1 ELSE 0 END) AS unreached_edges
       FROM edges e JOIN st sa ON e.src = sa.id JOIN st sb ON e.dst = sb.id
       WHERE e.src < e.dst GROUP BY sa.comp),
sizes AS (SELECT comp, count(*) AS n_nodes,
                 sum(CASE WHEN color IS NULL THEN 1 ELSE 0 END) AS unreached_nodes
          FROM st GROUP BY comp)
SELECT s.comp, CAST(s.n_nodes AS BIGINT) AS n_nodes,
       CAST(coalesce(ev.conflict_edges, 0) AS BIGINT) AS conflict_edges,
       CASE WHEN s.unreached_nodes > 0 OR coalesce(ev.unreached_edges, 0) > 0
            THEN NULL
            ELSE coalesce(ev.conflict_edges, 0) = 0 END AS is_bipartite
FROM sizes s LEFT JOIN ev ON s.comp = ev.comp"""


_RESPONSE_LATENCY_SQL = (
    "WITH "
    + _TRANSCRIPTS_CTE
    + """,
seq AS (
  SELECT conv_id, turn_idx, role, c,
         CAST(epoch(ts) AS BIGINT) AS ts_s,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         lag(CAST(epoch(ts) AS BIGINT)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts
  FROM transcripts),
gaps AS (
  SELECT 'agent_' || CAST(c % 7 AS VARCHAR) AS actor, ts_s - prev_ts AS gap_s
  FROM seq WHERE role = 'assistant' AND prev_role = 'user'),
hist AS (SELECT actor, gap_s, count(*) AS cnt FROM gaps GROUP BY 1, 2),
cum AS (SELECT actor, gap_s, cnt,
               sum(cnt) OVER (PARTITION BY actor ORDER BY gap_s
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY actor) AS n
        FROM hist)
SELECT actor, CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(min(CASE WHEN cum * 2 >= n THEN gap_s END) AS BIGINT) AS p50_s,
       CAST(min(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS BIGINT) AS p90_s
FROM cum GROUP BY actor"""
)



_SNM_SQL = f"""
WITH r AS (SELECT doc_id,
                  row_number() OVER (ORDER BY substr(lower(text), 1, 24), doc_id) - 1 AS r
           FROM documents WHERE doc_id < 300)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM r a JOIN r b ON b.r > a.r AND b.r - a.r <= {SNM_WINDOW}"""


def _sq8_topk_sql() -> str:
    """DuckDB twin of similarity.sq8_topk: identical round(x*127) lattice,
    identical exact-int64 prefilter order (iscore desc, nn_id), identical
    cosine rerank — candidate sets match bit-for-bit, so the reranked top-10
    is hash-exact."""
    from kaminpar_spark.functions.similarity import SQ8_SCALE

    dot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {EMB_DIM + 1}), i -> q.qq8[i] * e.eq8[i])), "
        "(acc, x) -> acc + x)"
    )
    return f"""
WITH q8 AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * {SQ8_SCALE}, 0) AS BIGINT)) AS q8
            FROM embeddings),
q AS (SELECT vec_id AS qid, q8 AS qq8 FROM q8 WHERE vec_id < 5),
e AS (SELECT vec_id AS nn_id, q8 AS eq8 FROM q8),
scored AS (
  SELECT q.qid, e.nn_id, {dot} AS iscore
  FROM q, e WHERE e.nn_id <> q.qid),
cand AS (
  SELECT qid, nn_id FROM (
    SELECT qid, nn_id,
           row_number() OVER (PARTITION BY qid ORDER BY iscore DESC, nn_id ASC) AS rn
    FROM scored) t WHERE rn <= 10 * {SQ8_RERANK}),
rer AS (
  SELECT c.qid, c.nn_id,
         round(CAST(list_cosine_similarity(qq.embedding, ee.embedding) AS DOUBLE), 4) AS cos
  FROM cand c JOIN embeddings qq ON c.qid = qq.vec_id
              JOIN embeddings ee ON c.nn_id = ee.vec_id)
SELECT qid, nn_id, cos FROM (
  SELECT qid, nn_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id ASC) AS rn
  FROM rer) t WHERE rn <= 10"""


_EDGE_CHURN_SQL = (
    "WITH "
    + _TRANSCRIPTS_CTE
    + """,
at2 AS (
  SELECT conv_id, turn_idx, c,
    CASE WHEN role = 'user' THEN 'user_' || CAST(c % greatest(1, (SELECT count(*) // 4 FROM orders)) AS VARCHAR)
         WHEN role = 'assistant' THEN 'agent_' || CAST(c % 7 AS VARCHAR)
         ELSE tool END AS actor
  FROM transcripts),
lk AS (
  SELECT c, lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
         actor AS a_dst
  FROM at2
  QUALIFY a_src IS NOT NULL AND a_src <> a_dst),
w1 AS (SELECT a_src, a_dst, count(*) AS w_old FROM lk
       WHERE c < 2 * (SELECT count(*) FROM orders) // 3 GROUP BY 1, 2),
w2 AS (SELECT a_src, a_dst, count(*) AS w_new FROM lk
       WHERE c >= (SELECT count(*) FROM orders) // 3 GROUP BY 1, 2),
j AS (SELECT w1.w_old, w2.w_new
      FROM w1 FULL OUTER JOIN w2
      ON w1.a_src = w2.a_src AND w1.a_dst = w2.a_dst)
SELECT CASE WHEN w_old IS NULL THEN 'added'
            WHEN w_new IS NULL THEN 'removed'
            WHEN w_old <> w_new THEN 'changed' ELSE 'same' END AS status,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(coalesce(w_old, 0)) AS BIGINT) AS total_old,
       CAST(sum(coalesce(w_new, 0)) AS BIGINT) AS total_new
FROM j GROUP BY 1"""
)



def _wl_chain() -> str:
    """Unrolled 1-WL CTE chain wl0..wl{WL_ROUNDS} (shared by the wl_classes2
    and wl_quotient oracles): identical modular multiset-hash arithmetic
    (operators/wl.py constants)."""
    from kaminpar_spark.operators.wl import WL_A, WL_B, WL_MOD

    prev = "wl0"
    steps = f""",
wl0 AS (SELECT id, degree % {WL_MOD} AS wl FROM deg)"""
    for r in range(1, WL_ROUNDS + 1):
        steps += f""",
wl{r} AS MATERIALIZED (
  SELECT s.id,
         ((s.wl * {WL_B}) % {WL_MOD} + coalesce(n.sh, 0) % {WL_MOD}
          + coalesce(n.cnt, 0)) % {WL_MOD} AS wl
  FROM {prev} s LEFT JOIN (
    SELECT e.dst AS id, sum((c.wl * {WL_A} + 1) % {WL_MOD}) AS sh,
           count(*) AS cnt
    FROM edges e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) n
  ON s.id = n.id)"""
        prev = f"wl{r}"
    return steps


def _wl_sql() -> str:
    return f"""WITH {_EDGES_CTE}{_wl_chain()}
SELECT id, CAST(wl AS BIGINT) AS wl FROM wl{WL_ROUNDS}"""


_OOV_SQL = f"""
WITH tk AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents),
tk2 AS (SELECT id, tok FROM tk WHERE tok <> ''),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM tk2 GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {OOV_VOCAB}) v)
SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_share
FROM tk2 t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY id"""


_SURPRISAL_SQL = """
WITH tk AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
tk2 AS MATERIALIZED (SELECT doc_id, tok FROM tk WHERE tok <> ''),
tf AS (SELECT tok, count(*) AS tf FROM tk2 GROUP BY tok),
vocab AS MATERIALIZED (
  SELECT tok,
         CAST(length(bin(row_number() OVER (ORDER BY tf DESC, tok ASC))) - 1 AS BIGINT) AS surp
  FROM tf)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(v.surp) AS BIGINT) AS surp_sum,
       round(CAST(sum(v.surp) AS DOUBLE) / count(*), 6) AS surp_mean
FROM tk2 t JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id"""


def _cohesion_chunks_sql() -> str:
    w, th = CHUNK_W, CHUNK_TH
    coh = (
        f"list_transform(range({w}, len(tk) - {w} + 1), p -> "
        f"len(list_filter(list_distinct(array_slice(tk, p - {w - 1}, p)), "
        f"x -> list_contains(array_slice(tk, p + 1, p + {w}), x))))"
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
c AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
             CASE WHEN len(tk) >= {2 * w} THEN {coh} ELSE [] END AS cohs
      FROM t)
SELECT doc_id, n_tokens,
       CAST(len(cohs) AS BIGINT) AS n_candidates,
       CAST(len(list_filter(cohs, c -> c < {th})) AS BIGINT) AS n_boundaries,
       CAST(len(list_filter(cohs, c -> c < {th})) + 1 AS BIGINT) AS n_chunks,
       CAST(coalesce(list_min(cohs), -1) AS BIGINT) AS min_cohesion,
       CAST(coalesce(list_reduce(list_prepend(0, cohs), (a, v) -> a + v), 0) AS BIGINT) AS coh_sum
FROM c"""


_ZIPF_SQL = """
WITH tk AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf
       FROM tk WHERE tok <> '' GROUP BY tok),
rk AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, tok ASC) AS zrank
       FROM tf),
b AS (SELECT CAST(g AS BIGINT) AS bucket FROM generate_series(0, 30) s(g))
SELECT b.bucket,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(tf) AS BIGINT) AS tf_sum,
       CAST(max(tf) AS BIGINT) AS tf_max,
       CAST(min(tf) AS BIGINT) AS tf_min
FROM rk JOIN b ON rk.zrank >= (CAST(1 AS BIGINT) << CAST(b.bucket AS INT))
              AND rk.zrank <  (CAST(1 AS BIGINT) << (CAST(b.bucket AS INT) + 1))
GROUP BY b.bucket"""


def _feature_smooth_sql() -> str:
    """Unrolled SGC smoothing twin: same floor(x*2^20) lattice, same
    positive-mod floor division — integer-exact at every round."""
    from kaminpar_spark.operators.gnn import QUANT_SCALE

    sc = QUANT_SCALE
    prev = "q0"
    steps = ""
    for r in range(1, SMOOTH_ROUNDS + 1):
        steps += f""",
g{r} AS (SELECT e.dst AS id, q.pos, q.qv FROM edges e JOIN {prev} q ON e.src = q.id),
a{r} AS (SELECT id, pos, sum(qv) AS sm, count(*) AS c FROM g{r} GROUP BY id, pos),
q{r} AS MATERIALIZED (
  SELECT q.id, q.pos,
         (q.qv + coalesce(a.sm, 0)
          - (((q.qv + coalesce(a.sm, 0)) % (coalesce(a.c, 0) + 1)
              + (coalesce(a.c, 0) + 1)) % (coalesce(a.c, 0) + 1)))
         // (coalesce(a.c, 0) + 1) AS qv
  FROM {prev} q LEFT JOIN a{r} a ON q.id = a.id AND q.pos = a.pos)"""
        prev = f"q{r}"
    cols = ",\n       ".join(
        f"CAST(max(CASE WHEN pos = {i} THEN qv END) AS BIGINT) AS q{i}"
        for i in range(SMOOTH_DIM)
    )
    return f"""WITH {_EDGES_CTE},
feat AS MATERIALIZED (
  SELECT n.id, e.embedding
  FROM nodes n JOIN embeddings e
    ON n.id % (SELECT count(*) FROM embeddings) = e.vec_id),
q0 AS MATERIALIZED (
  SELECT id, p.pos,
         CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE) * {sc}) AS BIGINT) AS qv
  FROM feat CROSS JOIN (SELECT unnest(range({SMOOTH_DIM})) AS pos) p){steps}
SELECT id,
       {cols}
FROM {prev} GROUP BY id"""



_EGO_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tri AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
             JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
pern AS (
  SELECT id, count(*) AS t FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) x
  GROUP BY id)
SELECT d.id,
       CAST(d.degree + 1 AS BIGINT) AS ego_nodes,
       CAST(d.degree + coalesce(p.t, 0) AS BIGINT) AS ego_edges,
       CASE WHEN d.degree >= 2
            THEN round(CAST(d.degree + coalesce(p.t, 0) AS DOUBLE)
                       / (d.degree + 1) / d.degree * 2, 6)
       END AS ego_density
FROM deg d LEFT JOIN pern p ON d.id = p.id"""


def _rich_club_sql() -> str:
    rows = []
    for k in RICH_CLUB_KS:
        rows.append(f"""
  SELECT CAST({k} AS INT) AS k,
         CAST((SELECT count(*) FROM deg WHERE degree > {k}) AS BIGINT) AS n_rich,
         CAST((SELECT count(*) FROM und u
               JOIN deg a ON u.src = a.id JOIN deg b ON u.dst = b.id
               WHERE a.degree > {k} AND b.degree > {k}) AS BIGINT) AS rich_edges""")
    return (
        f"WITH {_EDGES_CTE},\nund AS (SELECT src, dst FROM edges WHERE src < dst)"
        + "\nUNION ALL".join(rows)
    )


def _wl_quotient_sql() -> str:
    """WL chain + dense_rank densification + quotient-edge aggregate (the
    contract() twin under stable_ids)."""
    return f"""WITH {_EDGES_CTE}{_wl_chain()},
cm AS (SELECT wl, dense_rank() OVER (ORDER BY wl) - 1 AS c_id
       FROM (SELECT DISTINCT wl FROM wl{WL_ROUNDS}) x),
mp AS (SELECT w.id, cm.c_id FROM wl{WL_ROUNDS} w JOIN cm ON w.wl = cm.wl)
SELECT ms.c_id AS src, md.c_id AS dst, CAST(sum(e.weight) AS BIGINT) AS weight
FROM edges e JOIN mp ms ON e.src = ms.id JOIN mp md ON e.dst = md.id
WHERE ms.c_id <> md.c_id GROUP BY 1, 2"""



_CURRICULUM_SQL = f"""
WITH base AS (
  SELECT doc_id AS id,
         greatest(len(string_split(text, ' ')), 1) AS n_tokens
  FROM documents),
r AS (SELECT id, n_tokens,
             (row_number() OVER (ORDER BY n_tokens, id) - 1) // {CURRICULUM_BATCH} AS batch
      FROM base)
SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM r GROUP BY batch"""



def _edge_stress_sql() -> str:
    """Edge-level readout of the SAME unrolled Brandes chain as
    brandes_stress4: DAG edge (v, w) with dist_w = dist_v + 1 carries
    sigma_v * (1 + g_w); canonical undirected pairs, 0 for edges off all
    sampled DAGs."""
    full = _stress_sql()
    # reuse the chain: strip the node-level readout (everything after b0)
    chain = full[: full.rindex("SELECT n.id")].rstrip()
    return f"""{chain},
ec AS (
  SELECT least(e.src, w.id) AS a, greatest(e.src, w.id) AS b,
         v.sigma * (1 + w.g) AS c
  FROM b0 w JOIN edges e ON e.dst = w.id
            JOIN b0 v ON v.s = w.s AND v.id = e.src AND v.dist = w.dist - 1),
per AS (SELECT a, b, sum(c) AS st FROM ec GROUP BY a, b)
SELECT u.a, u.b, CAST(coalesce(p.st, 0) AS BIGINT) AS e_stress
FROM (SELECT src AS a, dst AS b FROM edges WHERE src < dst) u
LEFT JOIN per p ON u.a = p.a AND u.b = p.b"""



def _gn_split_sql() -> str:
    """Edge-stress chain -> cut >= GN_CUT -> unrolled CC (hash-to-min +
    pointer doubling) on the remaining symmetric edges -> component sizes."""
    full = _edge_stress_sql()
    chain = full[: full.rindex("SELECT u.a")].rstrip()
    steps = ""
    prev = "g0"
    for i in range(1, CC_STEPS + 1):
        steps += f""",
g{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM kept e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
g{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM g{i}a a LEFT JOIN g{i}a b ON a.comp = b.id)"""
        prev = f"g{i}"
    return f"""{chain},
eall AS (SELECT u.a, u.b, coalesce(p.st, 0) AS st
         FROM (SELECT src AS a, dst AS b FROM edges WHERE src < dst) u
         LEFT JOIN per p ON u.a = p.a AND u.b = p.b),
kept AS (SELECT a AS src, b AS dst FROM eall WHERE st < {GN_CUT}
         UNION ALL SELECT b AS src, a AS dst FROM eall WHERE st < {GN_CUT}),
g0 AS (SELECT id, id AS comp FROM nodes){steps}
SELECT comp, CAST(count(*) AS BIGINT) AS size FROM {prev} GROUP BY comp"""



# Closed-form SALSA: connected components of the bipartite support graph
# (hub copy 2*u -- authority copy 2*v+1 iff u->v, distinct edges) via a
# recursive min-label closure, then per-(component, side) degree shares.
_SALSA_SQL = f"""WITH RECURSIVE {_EDGES_CTE},
dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM pairs),
und AS MATERIALIZED (
  SELECT src*2 AS a, dst*2+1 AS b FROM dedges
  UNION ALL
  SELECT dst*2+1 AS a, src*2 AS b FROM dedges),
bnodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM und),
reach AS (
  SELECT v, v AS r FROM bnodes
  UNION
  SELECT u.b AS v, w.r FROM reach w JOIN und u ON u.a = w.v WHERE w.r < u.b),
comp AS MATERIALIZED (SELECT v, min(r) AS comp FROM reach GROUP BY v),
bdeg AS MATERIALIZED (
  SELECT src*2 AS bid, src AS orig, 'hub' AS side, count(*) AS num
  FROM dedges GROUP BY src
  UNION ALL
  SELECT dst*2+1 AS bid, dst AS orig, 'auth' AS side, count(*) AS num
  FROM dedges GROUP BY dst),
st AS MATERIALIZED (
  SELECT d.orig, d.side, d.num, c.comp FROM bdeg d JOIN comp c ON d.bid = c.v),
den AS (SELECT comp, side, sum(num) AS den FROM st GROUP BY comp, side),
shares AS (
  SELECT st.orig, st.side, st.num, den.den
  FROM st JOIN den ON st.comp = den.comp AND st.side = den.side)
SELECT n.id,
  CAST(coalesce(a.num, 0) AS BIGINT) AS auth_num,
  CAST(coalesce(a.den, 1) AS BIGINT) AS auth_den,
  CAST(coalesce(h.num, 0) AS BIGINT) AS hub_num,
  CAST(coalesce(h.den, 1) AS BIGINT) AS hub_den
FROM nodes n
LEFT JOIN (SELECT orig, num, den FROM shares WHERE side = 'auth') a ON n.id = a.orig
LEFT JOIN (SELECT orig, num, den FROM shares WHERE side = 'hub') h ON n.id = h.orig"""

_CYCLE_STATS_SQL = f"""WITH RECURSIVE {_EDGES_CTE},
dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM pairs),
closure AS (
  SELECT src AS a, dst AS b FROM dedges
  UNION
  SELECT c.a, e.dst AS b FROM closure c JOIN dedges e ON c.b = e.src),
mutual AS (
  SELECT c1.a AS v, c1.b AS w
  FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a),
lab AS (
  SELECT n.id, least(n.id, coalesce(min(m.w), n.id)) AS scc
  FROM nodes n LEFT JOIN mutual m ON n.id = m.v GROUP BY n.id),
sz AS (SELECT scc, count(*) AS sz FROM lab GROUP BY scc)
SELECT CAST(count(*) AS BIGINT) AS n_sccs,
       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nontrivial,
       CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS nodes_in_cycles,
       CAST(max(sz) AS BIGINT) AS largest_scc
FROM sz"""


def _linkpred_negatives_sql() -> str:
    from kaminpar_spark.operators.linkpred import negative_samples  # noqa: F401

    mult, mod = 1_103_515_245, 2_147_483_647
    return f"""WITH {_EDGES_CTE},
nn AS (SELECT count(*) AS n FROM nodes),
seeds AS (SELECT id FROM nodes WHERE id % {NEG_SEED_MOD} = 0),
cand AS (
  SELECT DISTINCT s.id,
         ((s.id * {NEG_PROBES} + p.j + 1) * {mult}) % {mod} % (SELECT n FROM nn) AS neg_id
  FROM seeds s CROSS JOIN (SELECT unnest(range({NEG_PROBES})) AS j) p)
SELECT c.id, CAST(c.neg_id AS BIGINT) AS neg_id
FROM cand c
WHERE c.neg_id <> c.id
  AND NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = c.id AND e.dst = c.neg_id)"""



_SSJOIN_SQL = f"""
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents WHERE doc_id < 300),
idx AS (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM d),
sh0 AS (
  SELECT DISTINCT doc_id AS id, array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram
  FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
sh AS (SELECT id, CAST(hash(gram) % 9223372036854775807 AS BIGINT) AS shingle_hash, gram FROM sh0),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
freq AS (SELECT gram, count(*) AS df FROM sh GROUP BY gram),
ranked AS (
  SELECT s.id, s.gram,
         row_number() OVER (PARTITION BY s.id ORDER BY f.df, s.shingle_hash) AS rk
  FROM sh s JOIN freq f ON s.gram = f.gram),
pref AS (
  SELECT r.id, r.gram FROM ranked r JOIN sizes z ON r.id = z.id
  WHERE r.rk <= CAST(floor((1.0 - {SSJOIN_THRESH}) * z.sz) AS BIGINT) + 1),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pref a JOIN pref b ON a.gram = b.gram AND a.id < b.id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c JOIN sh sa ON sa.id = c.id_a JOIN sh sb ON sb.id = c.id_b AND sb.gram = sa.gram
  GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       round(CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes za ON i.id_a = za.id JOIN sizes zb ON i.id_b = zb.id
WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= {SSJOIN_THRESH}"""



def _seeded_lp_sql() -> str:
    """Unrolled label-spreading twin: per round, labeled-neighbor plurality
    with (w DESC, label ASC) ranking == the engine's (w, -label) struct-max;
    seeds pinned by coalesce(seed_label, ...)."""
    prev = "sl0"
    steps = ""
    for r in range(1, SEEDED_LP_ROUNDS + 1):
        steps += f""",
v{r} AS (
  SELECT e.dst AS id, c.label, sum(e.weight) AS w
  FROM edges e JOIN {prev} c ON e.src = c.id
  WHERE c.label IS NOT NULL GROUP BY e.dst, c.label),
b{r} AS (
  SELECT id, label AS new_label FROM (
    SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY w DESC, label ASC) AS rn
    FROM v{r}) t WHERE rn = 1),
sl{r} AS MATERIALIZED (
  SELECT s.id, s.seed_label,
         coalesce(s.seed_label, coalesce(b.new_label, s.label)) AS label
  FROM {prev} s LEFT JOIN b{r} b ON s.id = b.id)"""
        prev = f"sl{r}"
    return f"""WITH {_EDGES_CTE},
sl0 AS (SELECT id,
               CASE WHEN id % {SEEDED_LP_MOD} = 0 THEN id % {SEEDED_LP_CLASSES} END AS seed_label,
               CASE WHEN id % {SEEDED_LP_MOD} = 0 THEN id % {SEEDED_LP_CLASSES} END AS label
        FROM nodes){steps}
SELECT id, CAST(label AS BIGINT) AS label FROM {prev}"""



def _rank_movers_sql() -> str:
    """Two actor-keyed PR chains (full corpus; c < 2n/3 snapshot) joined per
    actor; dense ids are snapshot-local, so the oracle runs PR directly on
    actor keys (identical arithmetic: same 1/n init, 0.15/n + 0.85*insum)."""

    def chain(tag: str, link_filter: str) -> str:
        prev = f"{tag}0"
        steps = ""
        for i in range(1, PR_ITERS + 1):
            steps += f""",
{tag}{i} AS MATERIALIZED (
  SELECT d.actor,
         (0.15 / (SELECT n FROM {tag}n)) + 0.85 * coalesce(s.x, 0) AS rank
  FROM {tag}deg d LEFT JOIN (
    SELECT e.a_dst AS actor, sum(r.rank / dg.degree) AS x
    FROM {tag}edges e JOIN {prev} r ON e.a_src = r.actor
                      JOIN {tag}deg dg ON e.a_src = dg.actor
    GROUP BY e.a_dst) s
  ON d.actor = s.actor)"""
            prev = f"{tag}{i}"
        return f""",
{tag}links AS MATERIALIZED (
  SELECT a_src, a_dst FROM lk WHERE {link_filter}),
{tag}edges AS MATERIALIZED (
  SELECT a_src, a_dst, CAST(count(*) AS BIGINT) AS weight
  FROM (SELECT a_src, a_dst FROM {tag}links
        UNION ALL SELECT a_dst AS a_src, a_src AS a_dst FROM {tag}links)
  GROUP BY a_src, a_dst),
{tag}deg AS MATERIALIZED (
  SELECT a_src AS actor, CAST(count(*) AS BIGINT) AS degree
  FROM {tag}edges GROUP BY a_src),
{tag}n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM {tag}deg),
{tag}0 AS (SELECT actor, 1.0 / (SELECT n FROM {tag}n) AS rank FROM {tag}deg){steps}"""

    nconvs = "(SELECT count(*) FROM orders)"
    return (
        "WITH "
        + _TRANSCRIPTS_CTE
        + f""",
at2 AS (
  SELECT conv_id, turn_idx, c,
    CASE WHEN role = 'user' THEN 'user_' || CAST(c % greatest(1, {nconvs} // 4) AS VARCHAR)
         WHEN role = 'assistant' THEN 'agent_' || CAST(c % 7 AS VARCHAR)
         ELSE tool END AS actor
  FROM transcripts),
lk AS (
  SELECT c, lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
         actor AS a_dst
  FROM at2
  QUALIFY a_src IS NOT NULL AND a_src <> a_dst)"""
        + chain("pf", "TRUE")
        + chain("po", f"c < 2 * {nconvs} // 3")
        + f"""
SELECT f.actor, round(f.rank, 6) AS rank_full,
       coalesce(round(o.rank, 6), 0.0) AS rank_old,
       round(round(f.rank, 6) - coalesce(round(o.rank, 6), 0.0), 6) AS delta
FROM pf{PR_ITERS} f LEFT JOIN po{PR_ITERS} o ON f.actor = o.actor
ORDER BY abs(round(round(f.rank, 6) - coalesce(round(o.rank, 6), 0.0), 6)) DESC, f.actor
LIMIT {MOVERS_TOPK}"""
    )


def _densest_sql() -> str:
    """Unrolled BKV peel: per round one degree CTE, one scalar-stats CTE, one
    survivor CTE, one induced-edge CTE; the int64 threshold
    d * n * eps_den > (eps_den + eps_num) * H mirrors the engine exactly."""
    enum, eden = DENSEST_EPS
    ctes = """,
e0 AS MATERIALIZED (SELECT src, dst FROM edges)"""
    rows = []
    for t in range(DENSEST_ROUNDS + 1):
        ctes += f""",
d{t} AS MATERIALIZED (SELECT src, count(*) AS d FROM e{t} GROUP BY src),
s{t} AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(coalesce(sum(d), 0) AS BIGINT) AS h FROM d{t})"""
        rows.append(
            f"SELECT CAST({t} AS BIGINT) AS step, n AS n_nodes, h AS half_edges, "
            f"CASE WHEN n = 0 THEN 0.0 ELSE round(h / 2.0 / n, 6) END AS density FROM s{t}"
        )
        if t < DENSEST_ROUNDS:
            ctes += f""",
sv{t} AS MATERIALIZED (SELECT d.src FROM d{t} d, s{t} s
  WHERE d.d * s.n * {eden} > {eden + enum} * s.h),
e{t + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{t} e
  JOIN sv{t} a ON e.src = a.src JOIN sv{t} b ON e.dst = b.src)"""
    union = "\nUNION ALL\n".join(rows)
    return f"WITH {_EDGES_CTE}{ctes}\n{union}"


_ORIENTED_TRI_CTE = """
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
t3 AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
  JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst)"""


_FOUR_CLIQUES_SQL = f"""WITH {_EDGES_CTE},{_ORIENTED_TRI_CTE},
k4 AS (SELECT count(*) AS c FROM t3
  JOIN oe x1 ON x1.src = t3.u
  JOIN oe x2 ON x2.src = t3.v AND x2.dst = x1.dst
  JOIN oe x3 ON x3.src = t3.w AND x3.dst = x1.dst)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM t3) AS triangles,
       CAST(k4.c AS BIGINT) AS four_cliques
FROM k4"""


def _triad_census_sql() -> str:
    """Triangles annotated with 2-bit pair direction masks, then the 6
    feed-forward permutation tests + 2 rotation tests as boolean sums —
    the exact SQL twin of operators/triangles.directed_triad_census."""
    mname = {
        frozenset(("u", "v")): "m_uv",
        frozenset(("u", "w")): "m_uw",
        frozenset(("v", "w")): "m_vw",
    }

    def has(x: str, y: str) -> str:
        m = mname[frozenset((x, y))]
        return f"(CASE WHEN {x} < {y} THEN ({m} & 1) > 0 ELSE ({m} & 2) > 0 END)"

    perms = [
        ("u", "v", "w"), ("u", "w", "v"), ("v", "u", "w"),
        ("v", "w", "u"), ("w", "u", "v"), ("w", "v", "u"),
    ]
    ff = " + ".join(
        f"(CASE WHEN {has(s, m)} AND {has(m, t)} AND {has(s, t)} THEN 1 ELSE 0 END)"
        for (s, m, t) in perms
    )
    cyc = (
        f"(CASE WHEN {has('u', 'v')} AND {has('v', 'w')} AND {has('w', 'u')} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {has('v', 'u')} AND {has('w', 'v')} AND {has('u', 'w')} THEN 1 ELSE 0 END)"
    )
    return f"""WITH {_EDGES_CTE},{_ORIENTED_TRI_CTE},
ddist AS MATERIALIZED (SELECT DISTINCT src, dst FROM pairs),
msk AS MATERIALIZED (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         max(CASE WHEN src < dst THEN 1 ELSE 0 END)
         + 2 * max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS m
  FROM ddist GROUP BY 1, 2),
tm AS MATERIALIZED (
  SELECT t.u, t.v, t.w, p1.m AS m_uv, p2.m AS m_uw, p3.m AS m_vw
  FROM t3 t
  JOIN msk p1 ON least(t.u, t.v) = p1.a AND greatest(t.u, t.v) = p1.b
  JOIN msk p2 ON least(t.u, t.w) = p2.a AND greatest(t.u, t.w) = p2.b
  JOIN msk p3 ON least(t.v, t.w) = p3.a AND greatest(t.v, t.w) = p3.b)
SELECT CAST(count(*) AS BIGINT) AS triangles,
       CAST(coalesce(sum({ff}), 0) AS BIGINT) AS ff_ordered,
       CAST(coalesce(sum({cyc}), 0) AS BIGINT) AS cycles
FROM tm"""


_CLUSTERING_SPECTRUM_SQL = f"""WITH {_EDGES_CTE},
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tri AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
             JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
pern AS (
  SELECT id, count(*) AS t FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) x
  GROUP BY id)
SELECT d.degree, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(coalesce(p.t, 0)) AS BIGINT) AS sum_triangles,
       round(2.0 * sum(coalesce(p.t, 0))
             / (count(*) * d.degree * (d.degree - 1)), 6) AS ck
FROM deg d LEFT JOIN pern p ON d.id = p.id
WHERE d.degree >= 2
GROUP BY d.degree"""


_KNN_SPECTRUM_SQL = f"""WITH {_EDGES_CTE},
s AS (SELECT e.src AS id, CAST(sum(d.degree) AS BIGINT) AS s
      FROM edges e JOIN deg d ON e.dst = d.id GROUP BY e.src)
SELECT d.degree, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(s.s) AS BIGINT) AS sum_nbr_deg,
       round(1.0 * sum(s.s) / (d.degree * count(*)), 6) AS knn
FROM deg d JOIN s ON d.id = s.id
GROUP BY d.degree"""


def _pagerank_by_role_sql() -> str:
    """Splices a role aggregation onto the pagerank5 chain: the final
    per-node round(rank,6) values are cross-engine exact, so the e6
    scaled-int sum per role is exact too."""
    base = _pagerank_sql()
    final = "SELECT id, round(rank, 6) AS rank FROM "
    head, tail = base.rsplit(final, 1)
    last = tail.strip()
    return f"""{head.rstrip().rstrip(',')},
typx AS (SELECT id, string_split(actor, '_')[1] AS role FROM nodes)
SELECT t.role, CAST(count(*) AS BIGINT) AS n_actors,
       CAST(sum(CAST(round(r.rank * 1000000, 0) AS BIGINT)) AS BIGINT) AS rank_mass_e6
FROM {last} r JOIN typx t ON r.id = t.id
GROUP BY t.role"""


_COMMUNITY_SIZE_HIST_SQL = _LPA_MODULARITY_SQL[: _LPA_MODULARITY_SQL.index("tm AS")] + """sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS size FROM lab GROUP BY label)
SELECT CAST(floor(log2(size)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_communities,
       CAST(sum(size) AS BIGINT) AS n_members
FROM sizes GROUP BY 1"""


def _ppr_sweep_sql() -> str:
    """PPR-chain splice + the same conditional-sum sweep ladders as the
    Spark side (13 power-of-2 prefixes; cross-join form at oracle scale)."""
    base = _ppr_sql()
    final = "SELECT id, round(rank, 6) AS rank FROM "
    head, tail = base.rsplit(final, 1)
    last = tail.strip()
    k = "(CAST(1 AS BIGINT) << j.j)"
    return f"""{head.rstrip().rstrip(',')},
e6x AS (SELECT id, CAST(round(rank * 1000000, 0) AS BIGINT) AS e6 FROM {last}),
rk AS (SELECT id, row_number() OVER (ORDER BY e6 DESC, id) - 1 AS r FROM e6x),
js AS (SELECT unnest(range({SWEEP_J})) AS j),
nd AS (SELECT rk.r, d.degree FROM rk JOIN deg d ON rk.id = d.id),
tot AS (SELECT CAST(sum(degree) AS BIGINT) AS tot FROM nd),
vols AS (SELECT j.j AS j,
    CAST(sum(CASE WHEN nd.r < {k} THEN nd.degree ELSE 0 END) AS BIGINT) AS vol
  FROM nd CROSS JOIN js j GROUP BY j.j),
er AS (SELECT a.r AS rs, b.r AS rd
       FROM edges e JOIN rk a ON e.src = a.id JOIN rk b ON e.dst = b.id),
cuts AS (SELECT j.j AS j,
    CAST(sum(CASE WHEN (er.rs < {k}) <> (er.rd < {k}) THEN 1 ELSE 0 END) AS BIGINT)
      AS cut_he
  FROM er CROSS JOIN js j GROUP BY j.j)
SELECT CAST(CAST(1 AS BIGINT) << v.j AS BIGINT) AS k, c.cut_he, v.vol,
       CASE WHEN least(v.vol, (SELECT tot FROM tot) - v.vol) > 0
            THEN round(1.0 * c.cut_he
                       / (2 * least(v.vol, (SELECT tot FROM tot) - v.vol)), 6)
            END AS phi
FROM vols v JOIN cuts c ON v.j = c.j"""


_TOOL_STATS_SQL = f"""WITH {_TRANSCRIPTS_CTE},
calls AS (SELECT tool, conv_id FROM transcripts WHERE tool IS NOT NULL),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM calls)
SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       round(1.0 * count(*) / (SELECT total FROM tot), 6) AS call_share
FROM calls GROUP BY tool"""


def _pagerank_gini_sql() -> str:
    """Same chain splice as _pagerank_by_role_sql; gini over the e6 ints."""
    base = _pagerank_sql()
    final = "SELECT id, round(rank, 6) AS rank FROM "
    head, tail = base.rsplit(final, 1)
    last = tail.strip()
    return f"""{head.rstrip().rstrip(',')},
e6 AS (SELECT id, CAST(round(rank * 1000000, 0) AS BIGINT) AS e6 FROM {last}),
rk AS (SELECT e6, row_number() OVER (ORDER BY e6, id) AS r FROM e6),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(e6) AS BIGINT) AS rank_mass_e6,
             CAST(sum(r * e6) AS BIGINT) AS rd
      FROM rk)
SELECT n_nodes, rank_mass_e6,
       round((2.0 * rd - (n_nodes + 1) * rank_mass_e6)
             / (n_nodes * rank_mass_e6), 6) AS gini
FROM a"""


def _core_profile_sql() -> str:
    return f"""
WITH base AS ({_core_hindex_sql()}),
per AS (SELECT core, CAST(count(*) AS BIGINT) AS n_at_core FROM base GROUP BY core)
SELECT core, n_at_core,
       CAST(sum(n_at_core) OVER (ORDER BY core DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS core_ge_size
FROM per"""


_TOOL_USAGE_BY_DEPTH_SQL = f"""WITH {_TRANSCRIPTS_CTE},
pc AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
              CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool
       FROM transcripts GROUP BY conv_id)
SELECT n_turns, CAST(count(*) AS BIGINT) AS n_convs,
       CAST(sum(n_tool) AS BIGINT) AS n_tool_turns,
       round(1.0 * sum(n_tool) / (count(*) * n_turns), 6) AS tool_share
FROM pc GROUP BY n_turns"""


_COACTOR_HIST_SQL = f"""WITH {_EDGES_CTE},
inc AS (SELECT DISTINCT conv_id, actor FROM actor_turns),
pc AS (SELECT a.actor AS ra, b.actor AS rb, count(*) AS cnt
       FROM inc a JOIN inc b ON a.conv_id = b.conv_id AND a.actor < b.actor
       GROUP BY 1, 2)
SELECT CAST(floor(log2(cnt)) AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n_pairs
FROM pc GROUP BY 1"""


def _hub_robustness_sql() -> str:
    """Per-k hub-removal CC chains (same per-step shape as _cc_sql) over
    the filtered node/edge sets, one UNION ALL row per k."""
    parts = []
    selects = []
    for k in ROBUST_KS:
        tag = f"rb{k}"
        if k == 0:
            base_nodes, base_edges = "nodes", "edges"
        else:
            parts.append(f""",
{tag}h AS (SELECT id FROM deg ORDER BY degree DESC, id LIMIT {k}),
{tag}n AS MATERIALIZED (
  SELECT id FROM nodes WHERE id NOT IN (SELECT id FROM {tag}h)),
{tag}e AS MATERIALIZED (
  SELECT src, dst FROM edges
  WHERE src NOT IN (SELECT id FROM {tag}h)
    AND dst NOT IN (SELECT id FROM {tag}h))""")
            base_nodes, base_edges = f"{tag}n", f"{tag}e"
        parts.append(f""",
{tag}c0 AS (SELECT id, CAST(id AS BIGINT) AS comp FROM {base_nodes})""")
        prev = f"{tag}c0"
        for i in range(1, CC_STEPS + 1):
            parts.append(f""",
{tag}c{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM {base_edges} e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
{tag}c{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM {tag}c{i}a a LEFT JOIN {tag}c{i}a b ON a.comp = b.id)""")
            prev = f"{tag}c{i}"
        selects.append(f"""SELECT {k} AS k_removed, CAST(sum(sz) AS BIGINT) AS n_nodes,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(sz) AS BIGINT) AS giant_size
FROM (SELECT comp, count(*) AS sz FROM {prev} GROUP BY comp)""")
    return (
        f"WITH {_EDGES_CTE}" + "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)
    )


_DEGREE_GINI_SQL = f"""WITH {_EDGES_CTE},
rk AS (SELECT degree, row_number() OVER (ORDER BY degree, id) AS r FROM deg),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(degree) AS BIGINT) AS total_degree,
             CAST(sum(r * degree) AS BIGINT) AS rd
      FROM rk)
SELECT n_nodes, total_degree,
       round((2.0 * rd - (n_nodes + 1) * total_degree)
             / (n_nodes * total_degree), 6) AS gini
FROM a"""


def _source_dup_rate_sql() -> str:
    return f"""
WITH clusters AS ({_near_dup_clusters_sql()}),
sizes AS (SELECT cluster_id, count(*) AS csz FROM clusters GROUP BY cluster_id)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s.csz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       round(1.0 * sum(CASE WHEN s.csz >= 2 THEN 1 ELSE 0 END) / count(*), 6)
         AS dup_share
FROM clusters c JOIN sizes s ON c.cluster_id = s.cluster_id
                JOIN documents d ON c.doc_id = d.doc_id
GROUP BY d.source"""


def _dedup_keep_best_sql() -> str:
    """Keep-best over the near-dup clusters chain: arg_max on the unique
    integer key n_chars*10^12 - doc_id (max length, then min id)."""
    return f"""
WITH clusters AS ({_near_dup_clusters_sql()}),
m AS (SELECT c.cluster_id, c.doc_id, d.n_chars
      FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(arg_max(doc_id, n_chars * 1000000000000 - doc_id) AS BIGINT) AS kept_doc,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM m GROUP BY cluster_id HAVING count(*) >= 2"""


def _clique_percolation_sql() -> str:
    """Unrolled hash-to-min + pointer-jump chain (same per-step shape as
    _cc_sql) over the triangle-edge adjacency graph: canonical edge keys
    a*n + b, 3 pairwise links per degree-oriented triangle."""
    prev = "p0"
    steps = ""
    for i in range(1, TRI_CC_STEPS + 1):
        steps += f""",
p{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM ledges e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
p{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM p{i}a a LEFT JOIN p{i}a b ON a.comp = b.id)"""
        prev = f"p{i}"
    return f"""WITH {_EDGES_CTE},
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
oe AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id
  WHERE (a.degree < b.degree) OR (a.degree = b.degree AND e.src < e.dst)),
tri AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
             JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tk AS (SELECT
    least(u, v) * (SELECT n FROM nn) + greatest(u, v) AS k1,
    least(v, w) * (SELECT n FROM nn) + greatest(v, w) AS k2,
    least(u, w) * (SELECT n FROM nn) + greatest(u, w) AS k3
  FROM tri),
lraw AS (SELECT k1 AS src, k2 AS dst FROM tk
         UNION SELECT k2, k3 FROM tk
         UNION SELECT k1, k3 FROM tk),
ledges AS MATERIALIZED (
  SELECT src, dst FROM lraw UNION SELECT dst AS src, src AS dst FROM lraw),
lnodes AS (SELECT DISTINCT src AS id FROM ledges),
p0 AS (SELECT id, CAST(id AS BIGINT) AS comp FROM lnodes){steps}
SELECT CAST(id // (SELECT n FROM nn) AS BIGINT) AS a,
       CAST(id % (SELECT n FROM nn) AS BIGINT) AS b,
       CAST(comp AS BIGINT) AS community
FROM {prev}"""


def _bm25_sql() -> str:
    """DuckDB twin of text.bm25_topk. Exactness: the per-(q,doc,term) weight
    is one fixed IEEE expression tree (identical operand order; constants
    embedded via repr so both engines parse the same decimal), rounded to 6dp
    and lifted to the integer 1e6 lattice BEFORE the per-doc sum — so the
    float fold is order-free; doc lengths are integer-valued doubles, so
    avgdl's sum is exact; ranking ties break on doc_id."""
    vals = ", ".join(f"({qid}, '{qt}')" for qid, qt in BM25_QUERIES)
    k1, b, k1p1 = repr(BM25_K1), repr(BM25_B), repr(BM25_K1 + 1.0)
    return f"""
WITH qr AS (SELECT * FROM (VALUES {vals}) AS v(query_id, qtext)),
qt AS (SELECT DISTINCT query_id, term FROM (
         SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS term FROM qr)
       WHERE term <> ''),
tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
hits AS (SELECT doc_id, term FROM tk WHERE term IN (SELECT DISTINCT term FROM qt)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM hits GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
st AS (SELECT CAST(count(*) AS DOUBLE) AS _n,
              avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS _avgdl
       FROM documents),
pt AS (SELECT q.query_id, tf.doc_id,
              CAST(round(round(
                ln(1.0 + (st._n - dfq.df + 0.5) / (dfq.df + 0.5))
                * (tf.tf * {k1p1})
                / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / st._avgdl)), 6) * 1e6)
              AS BIGINT) AS w6
       FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
       CROSS JOIN st JOIN qt q USING (term)),
sc AS (SELECT query_id, doc_id, CAST(sum(w6) AS DOUBLE) / 1e6 AS score
       FROM pt GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
SELECT query_id, doc_id, round(score, 6) AS score FROM r WHERE rnk <= {BM25_K}"""


_BIGRAM_CTE = """
t AS MATERIALIZED (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
bg AS MATERIALIZED (
  SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(list_filter(
             list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
                            i -> struct_pack(w1 := tk[i + 1], w2 := tk[i + 2])),
             s -> s.w1 <> '' AND s.w2 IS NOT NULL AND s.w2 <> '')) AS g
    FROM t))"""


_BIGRAM_SURPRISAL_SQL = f"""
WITH {_BIGRAM_CTE},
uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(tk) AS w1 FROM t) WHERE w1 <> '' GROUP BY w1),
bic AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(length(bin(c1 // cb)) - 1) AS BIGINT) AS surp_sum,
       round(CAST(sum(length(bin(c1 // cb)) - 1) AS DOUBLE) / count(*), 6) AS surp_mean
FROM bg JOIN bic USING (w1, w2) JOIN uni USING (w1)
GROUP BY bg.doc_id"""


def _dsir_sql() -> str:
    """DuckDB twin of text.dsir_weights (target = the src0 slice). The
    per-feature log ratio is the exact integer floor(log2(c+1)) lattice, so
    logratio_sum is an order-free int64 sum; one final IEEE division."""
    from kaminpar_spark.functions.hashing import char_poly_hash_sql
    from kaminpar_spark.functions.text import DSIR_BUCKETS

    h = char_poly_hash_sql("(g.w1 || ' ' || g.w2)")
    return f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, source, string_split(lower(text), ' ') AS tk FROM documents),
feats AS MATERIALIZED (
  SELECT doc_id, source, {h} % {DSIR_BUCKETS} AS f FROM (
    SELECT doc_id, source,
           unnest(list_filter(
             list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
                            i -> struct_pack(w1 := tk[i + 1], w2 := tk[i + 2])),
             s -> s.w1 <> '' AND s.w2 IS NOT NULL AND s.w2 <> '')) AS g
    FROM t)),
tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS ct FROM feats
        WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY f),
raw AS (SELECT f, CAST(count(*) AS BIGINT) AS cr FROM feats GROUP BY f),
score AS (SELECT raw.f,
                 CAST((length(bin(coalesce(tgt.ct, 0) + 1)) - 1)
                      - (length(bin(raw.cr + 1)) - 1) AS BIGINT) AS lr
          FROM raw LEFT JOIN tgt USING (f))
SELECT feats.doc_id,
       CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(lr) AS BIGINT) AS logratio_sum,
       round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS weight
FROM feats JOIN score USING (f)
GROUP BY feats.doc_id"""


def _dsir_select_sql() -> str:
    """DuckDB twin of pipeline.dsir_select: the dsir_weights subquery, ranked
    by (weight DESC, doc_id), cut at ceil(frac * N). sel_rank is the 0-based
    global rank (sorted_rank semantics)."""
    return f"""
WITH w AS MATERIALIZED (SELECT doc_id, weight FROM ({_dsir_sql()})),
n AS (SELECT count(*) AS _n FROM w),
r AS (SELECT doc_id, weight,
             CAST(row_number() OVER (ORDER BY weight DESC, doc_id ASC) - 1 AS BIGINT)
               AS sel_rank
      FROM w)
SELECT doc_id, weight, sel_rank FROM r CROSS JOIN n
WHERE sel_rank < ceil({DSIR_SELECT_FRAC!r} * _n)"""


BRIDGE_BFS_ROUNDS = 10  # weak-tie forest depth is 5 at sf0.01; 2x margin


def _cc_rounds(edge_cte: str, node_cte: str, prefix: str, rounds: int) -> str:
    """Unrolled hash-to-min + pointer-doubling CC rounds (same shape as
    _cc_sql) over arbitrary edge/node CTEs; final labels in {prefix}{rounds}."""
    prev = f"{prefix}0"
    steps = f",\n{prefix}0 AS (SELECT id, id AS comp FROM {node_cte})"
    for i in range(1, rounds + 1):
        steps += f""",
{prefix}{i}a AS MATERIALIZED (
  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS id, min(c.comp) AS mn
    FROM {edge_cte} e JOIN {prev} c ON e.src = c.id GROUP BY e.dst) m
  ON n.id = m.id),
{prefix}{i} AS MATERIALIZED (
  SELECT a.id, coalesce(b.comp, a.comp) AS comp
  FROM {prefix}{i}a a LEFT JOIN {prefix}{i}a b ON a.comp = b.id)"""
        prev = f"{prefix}{i}"
    return steps


def _forest_cte() -> str:
    """Shared forest prefix for the weak-tie-subgraph family: CTE chain over
    edges WHERE weight = 1 ending in ``par`` (id, parent = min neighbor one
    BFS level up), ``tcanon``/``nont`` (tree / non-tree canonical edges) and
    ``dsc`` (recursive descendant closure anc → nd) — the DuckDB twin of
    operators/bridges.bfs_forest rooted at hash-to-min component labels."""
    cc = _cc_rounds("we", "wn", "bc", CC_STEPS)
    cc_last = f"bc{CC_STEPS}"
    bfs = f""",
bd0 AS (SELECT id, CASE WHEN id = comp THEN CAST(0 AS BIGINT) END AS dist FROM {cc_last})"""
    prev = "bd0"
    for i in range(1, BRIDGE_BFS_ROUNDS + 1):
        bfs += f""",
bd{i} AS MATERIALIZED (
  SELECT a.id,
         CASE WHEN a.dist IS NULL THEN m.nd WHEN m.nd IS NULL THEN a.dist
              ELSE least(a.dist, m.nd) END AS dist
  FROM {prev} a LEFT JOIN (
    SELECT e.dst AS id, MIN(r.dist + 1) AS nd
    FROM we e JOIN {prev} r ON e.src = r.id WHERE r.dist IS NOT NULL
    GROUP BY e.dst) m ON a.id = m.id)"""
        prev = f"bd{i}"
    return f"""
we AS MATERIALIZED (SELECT src, dst FROM edges WHERE weight = 1),
wn AS MATERIALIZED (SELECT DISTINCT src AS id FROM we){cc}{bfs},
par AS MATERIALIZED (
  SELECT e.dst AS id, min(e.src) AS parent
  FROM we e JOIN {prev} a ON e.src = a.id JOIN {prev} b ON e.dst = b.id
  WHERE a.dist = b.dist - 1 GROUP BY e.dst),
tcanon AS (SELECT least(id, parent) AS a, greatest(id, parent) AS b FROM par),
nont AS MATERIALIZED (
  SELECT c.a, c.b FROM (SELECT src AS a, dst AS b FROM we WHERE src < dst) c
  WHERE NOT EXISTS (SELECT 1 FROM tcanon t WHERE t.a = c.a AND t.b = c.b)),
dsc AS (SELECT id AS anc, id AS nd FROM wn
        UNION ALL SELECT d.anc, p.id FROM dsc d JOIN par p ON p.parent = d.nd)"""


def _bridges_cte() -> str:
    """Forest prefix + CTE tail ending in ``brf`` (a, b bridges of the
    weak-tie subgraph) — the DuckDB twin of operators/bridges.bridges. The
    subtree XOR uses the ``dsc`` descendant closure instead of the Spark
    side's level peel — same XOR, different evaluation order (XOR is
    order-free), identical tags via the shared polynomial-hash streams."""
    from kaminpar_spark.functions.hashing import (
        POLY_MULT2,
        POLY_MULT3,
        char_poly_hash_sql,
    )

    key = "(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR))"
    t1 = char_poly_hash_sql(key, POLY_MULT2)
    t2 = char_poly_hash_sql(key, POLY_MULT3)
    return f"""{_forest_cte()},
tags AS MATERIALIZED (SELECT a, b, {t1} AS t1, {t2} AS t2 FROM nont),
bacc AS (SELECT id, bit_xor(t1) AS x1, bit_xor(t2) AS x2 FROM (
           SELECT a AS id, t1, t2 FROM tags
           UNION ALL SELECT b AS id, t1, t2 FROM tags) GROUP BY id),
sx AS MATERIALIZED (
  SELECT d.anc AS id,
         bit_xor(coalesce(ac.x1, 0)) AS sx1, bit_xor(coalesce(ac.x2, 0)) AS sx2
  FROM dsc d LEFT JOIN bacc ac ON ac.id = d.nd GROUP BY d.anc),
brf AS MATERIALIZED (
  SELECT least(p.id, p.parent) AS a, greatest(p.id, p.parent) AS b
  FROM par p JOIN sx ON sx.id = p.id WHERE sx.sx1 = 0 AND sx.sx2 = 0)"""


def _tv_cte() -> str:
    """Forest-relative CTE tail ending in ``tvlab`` (id, bcomp) — DuckDB twin
    of operators/bridges._tv_block_labels. Preorder ranks come from root-path
    LISTs (DuckDB list ORDER BY is lexicographic with prefix-first, exactly
    the Spark side's sorted_rank over path arrays — and only the ORDER of the
    ranks matters, both sides compare pre values and never emit them);
    subtree low/high/maxpre via the order-free ``dsc`` closure; auxiliary
    rules R1 (non-tree edges) + R2 (escaping subtree closes a cycle over the
    parent tree edge); block label = hash-to-min CC over the aux graph."""
    last = f"bd{BRIDGE_BFS_ROUNDS}"
    cc = _cc_rounds("auxe", "auxn", "tv", CC_STEPS)
    return f""",
pth AS (SELECT id, [id] AS path FROM {last} WHERE dist = 0
        UNION ALL
        SELECT p.id, list_append(t.path, p.id) FROM pth t
        JOIN par p ON p.parent = t.id),
pre AS MATERIALIZED (
  SELECT id, row_number() OVER (ORDER BY path) AS pre FROM pth),
nnb AS MATERIALIZED (
  SELECT id, min(npre) AS mn, max(npre) AS mx FROM (
    SELECT n.a AS id, pb.pre AS npre FROM nont n JOIN pre pb ON pb.id = n.b
    UNION ALL
    SELECT n.b AS id, pa.pre AS npre FROM nont n JOIN pre pa ON pa.id = n.a)
  GROUP BY id),
tvb AS MATERIALIZED (
  SELECT p.id, p.pre,
         least(p.pre, coalesce(nb.mn, p.pre)) AS bl,
         greatest(p.pre, coalesce(nb.mx, p.pre)) AS bh
  FROM pre p LEFT JOIN nnb nb ON nb.id = p.id),
sub AS MATERIALIZED (
  SELECT d.anc AS id, min(b.bl) AS low, max(b.bh) AS high, max(b.pre) AS maxpre
  FROM dsc d JOIN tvb b ON b.id = d.nd GROUP BY d.anc),
r2 AS (
  SELECT least(p.id, p.parent) AS a, greatest(p.id, p.parent) AS b
  FROM par p
  JOIN sub s ON s.id = p.id
  JOIN tvb pp ON pp.id = p.parent
  JOIN sub sp ON sp.id = p.parent
  WHERE p.parent IN (SELECT id FROM par)
    AND (s.low < pp.pre OR s.high > sp.maxpre)),
auxp AS (SELECT a, b FROM nont UNION ALL SELECT a, b FROM r2),
auxe AS MATERIALIZED (SELECT a AS src, b AS dst FROM auxp
                      UNION ALL SELECT b AS src, a AS dst FROM auxp),
auxn AS MATERIALIZED (SELECT id FROM par){cc},
tvlab AS MATERIALIZED (SELECT id, comp AS bcomp FROM tv{CC_STEPS})"""


def _articulation_sql() -> str:
    """DuckDB twin of operators/bridges.articulation_points on the weak-tie
    subgraph: group tree-edge block labels by parent; a root (no own label)
    cuts iff its children span >= 2 blocks, a non-root iff some child's block
    differs from its own tree edge's block."""
    return f"""WITH RECURSIVE {_EDGES_CTE},{_forest_cte()}{_tv_cte()},
cb AS (SELECT p.parent, l.bcomp AS cblock FROM par p JOIN tvlab l ON l.id = p.id),
grp AS (
  SELECT cb.parent,
         count(DISTINCT cb.cblock) AS nblocks,
         max(CASE WHEN pl.bcomp IS NOT NULL AND cb.cblock <> pl.bcomp
                  THEN 1 ELSE 0 END) AS mismatch,
         max(CASE WHEN pl.bcomp IS NULL THEN 1 ELSE 0 END) AS is_root
  FROM cb LEFT JOIN tvlab pl ON pl.id = cb.parent
  GROUP BY cb.parent)
SELECT parent AS id FROM grp
WHERE (is_root = 1 AND nblocks >= 2) OR (is_root = 0 AND mismatch = 1)"""


def _biconnected_sql() -> str:
    """DuckDB twin of operators/bridges.biconnected_components: a tree edge
    carries its child endpoint's block label, a non-tree edge its lower
    endpoint's (equal across the block by auxiliary rule R1)."""
    return f"""WITH RECURSIVE {_EDGES_CTE},{_forest_cte()}{_tv_cte()},
tlab AS (SELECT least(p.id, p.parent) AS a, greatest(p.id, p.parent) AS b,
                l.bcomp
         FROM par p JOIN tvlab l ON l.id = p.id),
nlab AS (SELECT n.a, n.b, l.bcomp FROM nont n JOIN tvlab l ON l.id = n.a)
SELECT a, b, bcomp FROM tlab UNION ALL SELECT a, b, bcomp FROM nlab"""


def _bridges_sql() -> str:
    return f"""WITH RECURSIVE {_EDGES_CTE},{_bridges_cte()}
SELECT a, b FROM brf"""


def _two_edge_comps_sql() -> str:
    cc2 = _cc_rounds("kept", "wn", "tc", CC_STEPS)
    return f"""WITH RECURSIVE {_EDGES_CTE},{_bridges_cte()},
kept AS MATERIALIZED (
  SELECT e.src, e.dst FROM we e
  WHERE NOT EXISTS (SELECT 1 FROM brf
                    WHERE (brf.a = e.src AND brf.b = e.dst)
                       OR (brf.a = e.dst AND brf.b = e.src))){cc2}
SELECT id, comp AS tcomp FROM tc{CC_STEPS}"""


def _semdedup_sql() -> str:
    """DuckDB twin of similarity.semdedup: the kmeans cell assignment is the
    bit-exact _kmeans_sql lattice at the AUTO-DERIVED k the Spark side's
    scale default picks. The Spark side derives k from a runtime
    vecs.count(), so the oracle derives n the same way AT ORACLE-BUILD TIME
    from the gate corpus parquet itself (ADVICE r4: a pinned n=500 silently
    desynchronizes if the gate corpus is ever regenerated at another size;
    scripts/check_oracle.py points SPARK_GRAFT_ORACLE_SF at the sf_dir under
    test, the driver's gate runs at the default sf0.01); the within-cell
    pairwise stage mirrors the Spark self-join with the same round-4 cosine
    threshold device already proven by embedding_near_dups; keep = no
    duplicate partner of smaller id."""
    import duckdb as _dd

    from kaminpar_spark.functions.similarity import semdedup_auto_k

    # the oracle dict is built for every query, so a missing gate corpus
    # falls back to its n=500; a corpus that exists but cannot be read raises
    n = 500
    _f = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    if os.path.exists(_f):
        # a private connection: a failed read must not leave the process-wide
        # default connection in an aborted transaction for later callers
        with _dd.connect() as con:
            n = con.sql(f"SELECT count(*) FROM read_parquet('{_f}')").fetchone()[0]

    return f"""
WITH cells AS MATERIALIZED ({_kmeans_sql(k=semdedup_auto_k(n))}),
ce AS MATERIALIZED (
  SELECT c.vec_id, c.cell, e.embedding FROM cells c JOIN embeddings e USING (vec_id)),
dupb AS (
  SELECT DISTINCT b.vec_id AS vid
  FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4)
        >= {SEMDEDUP_THRESH})
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, (d.vid IS NULL) AS keep
FROM cells c LEFT JOIN dupb d ON c.vec_id = d.vid"""


def _bpe_cte(rounds: int) -> str:
    """Unrolled BPE trainer CTE chain (w, t0, then x/b/s/t/r per round).
    Per round: pair counts over (word, pos) rows, argmax with the (cnt DESC,
    l, r) tie-break, then greedy merge via run-parity selection — within each
    maximal run of consecutive overlapping matches greedy takes the 1st, 3rd,
    5th, ... occurrence, which is exactly ``(pos - run_start) % 2 = 0`` (the
    fold never cascades: the merged symbol l||r equals l only if r is empty).
    Bit-for-bit vs functions/bpe.py."""
    parts = [
        r"""
WITH w AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) u
  WHERE word <> '' GROUP BY word),
t0 AS MATERIALIZED (
  SELECT word, freq, list_append(regexp_extract_all(word, '.'), '</w>') AS toks FROM w)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
x{r} AS MATERIALIZED (
  SELECT word, freq, pos, toks[pos] AS tok, toks[pos + 1] AS nxt FROM (
    SELECT word, freq, toks, unnest(range(1, len(toks) + 1)) AS pos FROM t{r - 1})),
b{r} AS MATERIALIZED (
  SELECT tok AS l, nxt AS r2, CAST(sum(freq) AS BIGINT) AS cnt
  FROM x{r} WHERE nxt IS NOT NULL
  GROUP BY tok, nxt ORDER BY cnt DESC, l, r2 LIMIT 1),
s{r} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS rs FROM (
      SELECT x.word, x.pos,
             x.pos - row_number() OVER (PARTITION BY x.word ORDER BY x.pos) AS grp
      FROM x{r} x, b{r} b WHERE x.tok = b.l AND x.nxt = b.r2))
  WHERE (pos - rs) % 2 = 0),
t{r} AS MATERIALIZED (
  SELECT x.word, any_value(x.freq) AS freq,
         list(CASE WHEN s.pos IS NOT NULL THEN x.tok || x.nxt ELSE x.tok END
              ORDER BY x.pos) AS toks
  FROM x{r} x
  LEFT JOIN s{r} s ON s.word = x.word AND s.pos = x.pos
  LEFT JOIN s{r} d ON d.word = x.word AND d.pos = x.pos - 1
  WHERE d.pos IS NULL GROUP BY x.word),
r{r} AS (
  SELECT CAST({r} AS BIGINT) AS merge_round, b.l AS merge_left,
         b.r2 AS merge_right, b.cnt AS pair_count,
         (SELECT CAST(sum(freq * len(toks)) AS BIGINT) FROM t{r}) AS tokens_after
  FROM b{r} b)""")
    return "".join(parts)


def _bpe_sql(rounds: int) -> str:
    """Learned merge table: the per-round r{i} rows of the trainer CTE."""
    union = "\nUNION ALL\n".join(f"SELECT * FROM r{i}" for i in range(1, rounds + 1))
    return f"{_bpe_cte(rounds)}\n{union}\nORDER BY merge_round"


def _bpe_tokenize_sql(rounds: int) -> str:
    """Per-doc token counts after applying the learned merges: each word's
    final tokenization is its t{rounds} row, so a doc's count is the sum of
    len(toks) over its (repeated) words — left join keeps empty docs at 0."""
    return f"""{_bpe_cte(rounds)},
doc_words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
    FROM documents) u
  WHERE word <> ''),
per_doc AS (
  SELECT dw.doc_id, sum(len(t.toks)) AS n
  FROM doc_words dw JOIN t{rounds} t USING (word) GROUP BY dw.doc_id)
SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"""


def oracle_sql() -> dict[str, str]:
    return {
        "transcript_turns": f"WITH {_TRANSCRIPTS_CTE} "
        "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts",
        "transcript_edges": f"WITH {_EDGES_CTE} SELECT src, dst, weight FROM edges",
        "conv_stats": f"""WITH {_TRANSCRIPTS_CTE},
g AS (SELECT conv_id, role, tool, ts,
             date_diff('second', lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx), ts) AS gap_s
      FROM transcripts)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
       CAST(count(*) FILTER (WHERE role = 'assistant') AS BIGINT) AS n_assistant,
       CAST(count(*) FILTER (WHERE role = 'tool') AS BIGINT) AS n_tool,
       CAST(count(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM g GROUP BY conv_id""",
        "tool_transitions": f"""WITH {_TRANSCRIPTS_CTE},
tt AS (SELECT conv_id, turn_idx, tool,
              lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
       FROM transcripts WHERE role = 'tool')
SELECT prev_tool AS src_tool, tool AS dst_tool, CAST(count(*) AS BIGINT) AS n
FROM tt WHERE prev_tool IS NOT NULL GROUP BY prev_tool, tool""",
        "degrees": f"WITH {_EDGES_CTE} SELECT id, degree, weighted_degree FROM deg",
        "bfs_dist4": _dist_sql(weighted=False),
        "sssp_dist4": _dist_sql(weighted=True),
        "degree_buckets": f"""WITH {_EDGES_CTE}
SELECT CAST(CASE WHEN degree = 0 THEN 0 ELSE floor(log2(degree)) + 1 END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1""",
        "pagerank5": _pagerank_sql(),
        "pagerank_warm": _pagerank_warm_sql(),
        "connected_components": _cc_sql(),
        # warm-start run must reach the identical min-id fixpoint as the
        # cold chain — the incremental path's oracle IS the full recompute
        "cc_incremental": _cc_sql(),
        "component_sizes": f"""WITH base AS ({_cc_sql()}),
per AS (SELECT comp, CAST(count(*) AS BIGINT) AS size FROM base GROUP BY comp)
SELECT size, CAST(count(*) AS BIGINT) AS n_components FROM per GROUP BY size""",
        "digraph_stats": f"""WITH {_EDGES_CTE},
dedges AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight FROM pairs GROUP BY src, dst),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM dedges),
nr AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal FROM dedges e
       WHERE EXISTS (SELECT 1 FROM dedges r WHERE r.src = e.dst AND r.dst = e.src))
SELECT n_edges, n_reciprocal,
       CAST(n_reciprocal AS DOUBLE) / n_edges AS reciprocity FROM ne, nr""",
        "scc": f"""WITH RECURSIVE {_EDGES_CTE},
dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM pairs),
closure AS (
  SELECT src AS a, dst AS b FROM dedges
  UNION
  SELECT c.a, e.dst AS b FROM closure c JOIN dedges e ON c.b = e.src),
mutual AS (
  SELECT c1.a AS v, c1.b AS w
  FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a)
SELECT n.id, CAST(least(n.id, coalesce(min(m.w), n.id)) AS BIGINT) AS scc
FROM nodes n LEFT JOIN mutual m ON n.id = m.v
GROUP BY n.id""",
        "bowtie": f"""WITH RECURSIVE {_EDGES_CTE},
dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM pairs),
closure AS (
  SELECT src AS a, dst AS b FROM dedges
  UNION
  SELECT c.a, e.dst AS b FROM closure c JOIN dedges e ON c.b = e.src),
mutual AS (
  SELECT c1.a AS v, c1.b AS w
  FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a),
labels AS MATERIALIZED (
  SELECT n.id, CAST(least(n.id, coalesce(min(m.w), n.id)) AS BIGINT) AS scc
  FROM nodes n LEFT JOIN mutual m ON n.id = m.v GROUP BY n.id),
core AS (SELECT scc FROM labels GROUP BY scc ORDER BY count(*) DESC, scc ASC LIMIT 1),
members AS MATERIALIZED (SELECT id FROM labels WHERE scc = (SELECT scc FROM core))
SELECT l.id,
       CASE WHEN l.scc = (SELECT scc FROM core) THEN 'CORE'
            WHEN EXISTS (SELECT 1 FROM closure c JOIN members m ON c.a = m.id
                         WHERE c.b = l.id) THEN 'OUT'
            WHEN EXISTS (SELECT 1 FROM closure c JOIN members m ON c.b = m.id
                         WHERE c.a = l.id) THEN 'IN'
            ELSE 'OTHER' END AS klass
FROM labels l""",
        "condensation_levels": f"""WITH RECURSIVE {_EDGES_CTE},
dedges AS MATERIALIZED (
  SELECT src, dst FROM pairs GROUP BY src, dst HAVING count(*) >= {CONDENSE_MIN_W}),
closure AS (
  SELECT src AS a, dst AS b FROM dedges
  UNION
  SELECT c.a, e.dst AS b FROM closure c JOIN dedges e ON c.b = e.src),
mutual AS (
  SELECT c1.a AS v, c1.b AS w
  FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a),
dnodes AS (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
labels AS MATERIALIZED (
  SELECT n.id, CAST(least(n.id, coalesce(min(m.w), n.id)) AS BIGINT) AS scc
  FROM dnodes n LEFT JOIN mutual m ON n.id = m.v GROUP BY n.id),
dag AS MATERIALIZED (
  SELECT DISTINCT ls.scc AS src, ld.scc AS dst
  FROM dedges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
  WHERE ls.scc <> ld.scc),
paths AS (
  SELECT scc AS v, 0 AS d FROM (SELECT DISTINCT scc FROM labels)
  UNION
  SELECT e.dst AS v, p.d + 1 AS d FROM paths p JOIN dag e ON e.src = p.v),
lev AS (SELECT v, CAST(max(d) AS BIGINT) AS level FROM paths GROUP BY v)
SELECT l.scc, CAST(count(*) AS BIGINT) AS n_members, lev.level
FROM labels l JOIN lev ON lev.v = l.scc
GROUP BY l.scc, lev.level""",
        "nbr_mean_features": _nbr_mean_sql(),
        "brandes_stress4": _stress_sql(),
        "louvain_moves4": _louvain_sql(),
        "louvain_modularity": _louvain_modularity_sql(),
        "katz3": _katz_sql(),
        "temporal_reach6": _temporal_sql(),
        "temporal_triangles60": _temporal_tri_sql(),
        "landmark_est4": _landmark_sql(),
        "cascade_k2": _cascade_sql(),
        "actor_churn": f"""WITH {_TRANSCRIPTS_CTE},
at2 AS (
  SELECT CASE WHEN role = 'user' THEN 'user_' || CAST(c % greatest(1, (SELECT count(*) // 4 FROM orders)) AS VARCHAR)
              WHEN role = 'assistant' THEN 'agent_' || CAST(c % 7 AS VARCHAR)
              ELSE tool END AS actor,
         c >= (SELECT count(*) FROM orders) // 2 AS half
  FROM transcripts),
a AS (SELECT DISTINCT actor FROM at2 WHERE NOT half),
b AS (SELECT DISTINCT actor AS actor_b FROM at2 WHERE half),
j AS (SELECT a.actor, b.actor_b FROM a FULL OUTER JOIN b ON a.actor = b.actor_b)
SELECT CASE WHEN actor IS NOT NULL AND actor_b IS NOT NULL THEN 'both'
            WHEN actor IS NOT NULL THEN 'only_first' ELSE 'only_second' END AS status,
       split_part(coalesce(actor, actor_b), '_', 1) AS actor_class,
       CAST(count(*) AS BIGINT) AS n_actors
FROM j GROUP BY 1, 2""",
        "event_rollup": """
SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour,
       CAST(GROUPING(event_type) * 2 + GROUPING(hour(ts)) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY ROLLUP(event_type, hour(ts))""",
        "eigenvector3": _eig_sql(),
        "spectral_scores3": _spectral_scores_sql(),
        "spectral_cut3": _spectral_cut_sql(),
        "role_mix": f"""WITH {_EDGES_CTE}
SELECT split_part(l.a_src, '_', 1) AS src_class,
       split_part(l.a_dst, '_', 1) AS dst_class,
       CAST(count(*) AS BIGINT) AS n_links
FROM links l GROUP BY 1, 2""",
        "repeat_contacts": f"""WITH {_EDGES_CTE},
tlinks AS MATERIALIZED (
  SELECT lag(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS a_src,
         actor AS a_dst, ts_s
  FROM actor_turns
  QUALIFY a_src IS NOT NULL AND a_src <> actor),
tedges AS MATERIALIZED (
  SELECT DISTINCT ns.id AS src, nd.id AS dst, l.ts_s AS ts
  FROM tlinks l JOIN nodes ns ON l.a_src = ns.actor
                JOIN nodes nd ON l.a_dst = nd.actor),
ev AS (
  SELECT f.src, f.dst, f.ts AS t, min(r.ts - f.ts) AS lat
  FROM tedges f JOIN tedges r ON r.src = f.src AND r.dst = f.dst
  WHERE r.ts > f.ts AND r.ts <= f.ts + {RESPONSE_DELTA_S}
  GROUP BY f.src, f.dst, f.ts)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_repeats,
       CAST(sum(lat) AS BIGINT) AS total_latency_s,
       CAST(min(lat) AS BIGINT) AS min_latency_s
FROM ev GROUP BY src, dst""",
        "cc_profile4": _cc_profile_sql(),
        "attributed_purchases": """
WITH v AS (SELECT event_id AS view_id, ts AS view_ts, user_id FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, ts AS purchase_ts, user_id FROM events WHERE event_type = 'purchase')
SELECT p.purchase_id, p.user_id,
       CAST(count(*) AS BIGINT) AS n_views,
       min(v.view_ts) AS first_view_ts
FROM p JOIN v ON v.user_id = p.user_id
 AND v.view_ts <= p.purchase_ts
 AND v.view_ts >= p.purchase_ts - INTERVAL 30 MINUTE
GROUP BY p.purchase_id, p.user_id""",
        "csr_blocks4": f"""WITH {_EDGES_CTE},
be AS MATERIALIZED (SELECT CAST(src % {CSR_BLOCKS} AS INT) AS block, src, dst, weight FROM edges),
bdeg AS MATERIALIZED (SELECT block, src, count(*) AS c FROM be GROUP BY block, src)
SELECT block, 'ids' AS arr,
       CAST(row_number() OVER (PARTITION BY block ORDER BY src) - 1 AS BIGINT) AS pos,
       CAST(src AS BIGINT) AS value
FROM bdeg
UNION ALL
SELECT block, 'indptr' AS arr,
       CAST(row_number() OVER (PARTITION BY block ORDER BY src) AS BIGINT) AS pos,
       CAST(sum(c) OVER (PARTITION BY block ORDER BY src) AS BIGINT) AS value
FROM bdeg
UNION ALL
SELECT DISTINCT block, 'indptr' AS arr, CAST(0 AS BIGINT) AS pos,
       CAST(0 AS BIGINT) AS value
FROM bdeg
UNION ALL
SELECT block, 'indices' AS arr,
       CAST(row_number() OVER (PARTITION BY block ORDER BY src, dst) - 1 AS BIGINT) AS pos,
       CAST(dst AS BIGINT) AS value
FROM be
UNION ALL
SELECT block, 'eweights' AS arr,
       CAST(row_number() OVER (PARTITION BY block ORDER BY src, dst) - 1 AS BIGINT) AS pos,
       CAST(weight AS BIGINT) AS value
FROM be""",
        "triangle_count": _TRIANGLE_SQL,
        "triangles_incremental": _TRI_INCR_SQL,
        "transitivity": _TRANSITIVITY_SQL,
        "snm_candidates": _SNM_SQL,
        "wl_classes2": _wl_sql(),
        "ego_density": _EGO_SQL,
        "curriculum_batches": _CURRICULUM_SQL,
        "edge_stress4": _edge_stress_sql(),
        "gn_split": _gn_split_sql(),
        "cycle_stats": _CYCLE_STATS_SQL,
        "linkpred_negatives": _linkpred_negatives_sql(),
        "linkpred_training": _linkpred_training_sql(),
        "ssjoin_prefix": _SSJOIN_SQL,
        "seeded_labels3": _seeded_lp_sql(),
        "rank_movers": _rank_movers_sql(),
        "rich_club": _rich_club_sql(),
        "wl_quotient": _wl_quotient_sql(),
        "oov_rate": _OOV_SQL,
        "zipf_profile": _ZIPF_SQL,
        "surprisal_scores": _SURPRISAL_SQL,
        "cohesion_chunks": _cohesion_chunks_sql(),
        "vocab_growth": _vocab_growth_sql(),
        "feature_smooth2": _feature_smooth_sql(),
        "sq8_topk": _sq8_topk_sql(),
        "sq8_recall": _recall_sql(_sq8_topk_sql()),
        "edge_churn": _EDGE_CHURN_SQL,
        "rectangles": _RECTANGLES_SQL,
        "two_hop_reach": _TWO_HOP_SQL,
        "anf_rank_hist3": _anf_rank_hist_sql(),
        "weighted_jaccard": _WEIGHTED_JACCARD_SQL,
        "bipartite_check12": _bipartite_sql(),
        "response_latency": _RESPONSE_LATENCY_SQL,
        "ppr5": _ppr_sql(),
        "lcc": _LCC_SQL,
        "lp_step1": _LP1_SQL,
        "lpa_warm": _lpa_warm_sql(),
        "lpa_modularity": _LPA_MODULARITY_SQL,
        "adjacency_jaccard": _ADJ_JACCARD_SQL,
        "resource_alloc": _RA_SQL,
        "assortativity": _ASSORT_SQL,
        "role_assortativity": _ROLE_ASSORT_SQL,
        "truss_edges5": f"WITH {_EDGES_CTE}"
        + _TRUSS_SQL_TEMPLATE.format(min_support=TRUSS_K - 2),
        "harmonic4": _harmonic_sql(),
        "diameter_sweep": _diameter_sql(),
        "jp_colors6": _jp_sql(),
        "luby_mis6": _luby_sql(),
        "hem_matching3": _hem_sql(),
        "hits3": _hits_sql(),
        "salsa": _SALSA_SQL,
        "butterflies": _BUTTERFLIES_SQL,
        "char_diversity": _CHAR_DIVERSITY_SQL,
        "random_walks4": _walks_sql(),
        "walk_contexts": _walk_contexts_sql(),
        "node2vec_walks4": _n2v_sql(),
        "cooc_stats": f"""WITH base AS ({_walk_contexts_sql()}),
nc AS (SELECT center, CAST(sum(n) AS BIGINT) AS n_center FROM base GROUP BY center),
nx AS (SELECT context, CAST(sum(n) AS BIGINT) AS n_context FROM base GROUP BY context),
tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM base)
SELECT b.center, b.context, b.n, nc.n_center, nx.n_context, tt.total
FROM base b JOIN nc ON b.center = nc.center JOIN nx ON b.context = nx.context, tt""",
        "conductance_mod4": _CONDUCTANCE_SQL,
        "graph_summary": _GRAPH_SUMMARY_SQL,
        "domain_mix": _domain_mix_sql(),
        "comm_volume_mod4": f"""WITH {_EDGES_CTE},
remote AS (
  SELECT DISTINCT e.src, CAST(e.src % 4 AS INT) AS src_block,
         CAST(e.dst % 4 AS INT) AS dst_block
  FROM edges e WHERE e.src % 4 <> e.dst % 4),
cv AS (SELECT src, src_block, count(*) AS cv FROM remote GROUP BY src, src_block),
vols AS (SELECT src_block AS block, CAST(sum(cv) AS BIGINT) AS send_volume
         FROM cv GROUP BY src_block),
sizes AS (SELECT CAST(id % 4 AS INT) AS block, CAST(count(*) AS BIGINT) AS n_nodes
          FROM nodes GROUP BY 1)
SELECT s.block, CAST(coalesce(v.send_volume, 0) AS BIGINT) AS send_volume, s.n_nodes
FROM sizes s LEFT JOIN vols v ON s.block = v.block""",
        "edge_cut_mod4": f"""WITH {_EDGES_CTE}
SELECT CAST(sum(weight) / 2 AS BIGINT) AS cut FROM edges WHERE src % 4 <> dst % 4""",
        "block_weights_mod4": f"""WITH {_EDGES_CTE}
SELECT CAST(id % 4 AS INT) AS block, CAST(count(*) AS BIGINT) AS block_weight
FROM nodes GROUP BY 1""",
        "dedup_exact": """
SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY text""",
        "clean_corpus": _CLEAN_CORPUS_SQL,
        "token_counts": """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents""",
        "text_quality": """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       round(CAST(len(list_filter(string_split(text, ' '),
             x -> x IN ('the','a','of','to','and','is','in','it','on','for'))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS stopword_ratio
FROM documents""",
        "embedding_topk": _EXACT_TOPK_SQL,
        "lsh_recall": _recall_sql(_lsh_topk_sql()),
        "ivf_recall": _recall_sql(_ivf_topk_sql()),
        "pq_recall": _recall_sql(_pq_topk_sql(rerank=PQ_RERANK)),
        "windowed_event_counts": """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2, 3""",
        "event_props_agg": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type""",
        "funnel_counts": """
WITH firsts AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'view') AS v,
         min(ts) FILTER (WHERE event_type = 'click') AS c,
         min(ts) FILTER (WHERE event_type = 'purchase') AS p
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id)
SELECT CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                      AND p IS NOT NULL AND p > c THEN 1 ELSE 0 END) AS BIGINT) AS n_full
FROM firsts""",
        "sessionized_events": """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sess GROUP BY user_id, session_id""",
        "kcore_peel8": _kcore_sql(),
        "onion_layers6": _onion_sql(),
        "vertex_cut16": _vertex_cut_sql(),
        "sage_sample32": _sage_sample_sql(),
        "bandwidth_orders": _bandwidth_orders_sql(),
        "score_peel8": _score_sql(),
        "lp_capped_step": _LP_CAPPED_SQL,
        "contraction_edges": _CONTRACTION_EDGES_SQL,
        "contraction_nodes": _CONTRACTION_NODES_SQL,
        "pagerank_weighted5": _pagerank_weighted_sql(),
        "pagerank_recency5": _pagerank_recency_sql(),
        "language_id": _LANGID_SQL,
        "bpe_token_counts": r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\s]')) AS BIGINT)
         AS n_subword_tokens
FROM documents""",
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "near_dup_clusters": _near_dup_clusters_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "pack_sequences": _PACK_SEQUENCES_SQL,
        "source_filter": _SOURCE_FILTER_SQL,
        "tfidf_top_terms": _TFIDF_SQL,
        "ngram_topk": _NGRAM_TOPK_SQL,
        "minhash_near_dups": _minhash_sql(),
        "minhash_calibration20": _minhash_calibration_sql(),
        "minhash_ingest": (
            f"SELECT id_a, id_b, est_jaccard FROM ({_minhash_sql()}) "
            "WHERE id_a % 3 = 0 OR id_b % 3 = 0"
        ),
        "simhash_near_dups": _simhash_sql(),
        "lsh_topk": _lsh_topk_sql(),
        "ivf_topk": _ivf_topk_sql(),
        "pq_topk": _pq_topk_sql(),
        "kmeans_cells2": _kmeans_sql(),
        "fingerprints": _fingerprints_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "repetition_stats": _REPETITION_SQL,
        "decontaminate": _decontaminate_sql(),
        "dup_windows8": _dup_windows_sql(),
        "strip_dup_spans8": _strip_dup_spans_sql(),
        "kmv_shingles": _kmv_sql(),
        "hll_shingles": _hll_sql(),
        "cms_tokens": _cms_sql(),
        "media_features": _media_features_sql(),
        "embedding_near_dups": _embedding_near_dups_sql(),
        "frame_sample_plan": _FRAME_SAMPLE_SQL,
        "core_hindex4": _core_hindex_sql(),
        "subgraph_block0": _SUBGRAPH_SQL,
        "isolated_rescale": _ISOLATED_RESCALE_SQL,
        "lp_hardcap_step": _LP_HARDCAP_SQL,
        "balance_round_skew": _BALANCE_ROUND_SQL,
        "capped_neighbors": _CAPPED_NEIGHBORS_SQL,
        "degree_permutation": _DEGREE_PERM_SQL,
        "msf_bounded": _msf_sql(),
        "anf_ranks3": _anf_sql(),
        "hop_plot3": _hop_plot_sql(),
        "ktruss4_round2": _ktruss_sql(),
        "backbone2": _backbone_sql(),
        "pagerank_directed4": _pagerank_directed_sql(),
        "densest_peel6": _densest_sql(),
        "four_cliques": _FOUR_CLIQUES_SQL,
        "triad_census": _triad_census_sql(),
        "clique_percolation8": _clique_percolation_sql(),
        "clustering_spectrum": _CLUSTERING_SPECTRUM_SQL,
        "dedup_keep_best": _dedup_keep_best_sql(),
        "knn_spectrum": _KNN_SPECTRUM_SQL,
        "pagerank_by_role": _pagerank_by_role_sql(),
        "degree_gini": _DEGREE_GINI_SQL,
        "community_size_hist": _COMMUNITY_SIZE_HIST_SQL,
        "hub_robustness": _hub_robustness_sql(),
        "tool_usage_by_depth": _TOOL_USAGE_BY_DEPTH_SQL,
        "core_profile": _core_profile_sql(),
        "pagerank_gini": _pagerank_gini_sql(),
        "tool_stats": _TOOL_STATS_SQL,
        "ppr_sweep": _ppr_sweep_sql(),
        "coactor_hist": _COACTOR_HIST_SQL,
        "source_dup_rate": _source_dup_rate_sql(),
        "partition_agreement": _partition_agreement_sql(),
        "partition_verify": _partition_verify_sql(),
        "retention_cohorts": """
WITH wkev AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
  FROM events),
coh AS (SELECT user_id, min(wk) AS cohort_week FROM wkev GROUP BY 1),
sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
       FROM coh GROUP BY 1),
cells AS (
  SELECT c.cohort_week,
         CAST(w.wk - c.cohort_week AS BIGINT) AS week_offset,
         CAST(count(*) AS BIGINT) AS n_users
  FROM wkev w JOIN coh c USING (user_id)
  GROUP BY 1, 2)
SELECT cells.cohort_week, week_offset, n_users, sz.cohort_size,
       round(CAST(n_users AS DOUBLE) / sz.cohort_size, 6) AS retention
FROM cells JOIN sz ON sz.cohort_week = cells.cohort_week""",
        "event_bursts": f"""
WITH b AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, window_start, n_events,
         sum(n_events) OVER (PARTITION BY event_type ORDER BY window_start
                             ROWS BETWEEN {BURST_TRAIL} PRECEDING AND 1 PRECEDING) AS trail_sum,
         count(n_events) OVER (PARTITION BY event_type ORDER BY window_start
                               ROWS BETWEEN {BURST_TRAIL} PRECEDING AND 1 PRECEDING) AS n_prev
  FROM b)
SELECT event_type, window_start, n_events,
       CAST(trail_sum AS BIGINT) AS trail_sum,
       CAST(n_events * {BURST_TRAIL} - trail_sum AS BIGINT) AS burst_num
FROM s WHERE n_prev = {BURST_TRAIL}""",
        "readability": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_vowel_groups,
       round(206.835
             - 1.015 * (CAST(greatest(1, len(string_split(text, ' '))) AS DOUBLE)
                        / CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE))
             - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                       / CAST(greatest(1, len(string_split(text, ' '))) AS DOUBLE)), 6) AS flesch
FROM documents""",
        "group_split": _group_split_sql(),
        "null_model": _NULL_MODEL_SQL,
        "ngram_containment": f"""
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 1))) AS i FROM d),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(array_slice(w, i + 1, i + 3), ' ') AS gram
  FROM idx WHERE array_to_string(array_slice(w, i + 1, i + 3), ' ') <> ''),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
rare AS (SELECT gram FROM sh GROUP BY gram HAVING count(*) <= {CONTAIN_DF_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN rare r ON a.gram = r.gram
            JOIN sh b ON b.gram = a.gram AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.gram = a.gram
  GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
       round(CAST(i.n_inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / least(sa.sz, sb.sz) >= {CONTAIN_THRESH}""",
        "leiden_refine": _leiden_refine_sql(),
        "tie_overlap": f"""WITH {_EDGES_CTE},
ce AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
cn AS (
  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS support
  FROM ce c JOIN edges e1 ON e1.src = c.a
            JOIN edges e2 ON e2.src = c.b AND e2.dst = e1.dst
  GROUP BY c.a, c.b),
sup AS (
  SELECT c.a, c.b, coalesce(cn.support, 0) AS support
  FROM ce c LEFT JOIN cn ON cn.a = c.a AND cn.b = c.b)
SELECT s.a, s.b, CAST(s.support AS BIGINT) AS support,
       da.degree AS d_a, db.degree AS d_b,
       CASE WHEN da.degree + db.degree - 2 - s.support <= 0 THEN 0.0
            ELSE round(CAST(s.support AS DOUBLE)
                       / (da.degree + db.degree - 2 - s.support), 6) END AS overlap
FROM sup s JOIN deg da ON da.id = s.a JOIN deg db ON db.id = s.b""",
        "dau_wau": """
WITH ud AS (
  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, user_id
  FROM events),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT a.day, CAST(count(DISTINCT b.user_id) AS BIGINT) AS wau
  FROM (SELECT day FROM dau) a
  JOIN ud b ON b.day <= a.day AND b.day > a.day - 7
  GROUP BY a.day)
SELECT dau.day, dau.dau, wau.wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON wau.day = dau.day""",
        "zorder_layout": _zorder_sql(),
        "tool_affinity": f"""WITH {_TRANSCRIPTS_CTE},
bt AS (SELECT DISTINCT conv_id, tool FROM transcripts WHERE tool IS NOT NULL),
n AS (SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS nb FROM bt),
singles AS (SELECT tool, CAST(count(*) AS BIGINT) AS c FROM bt GROUP BY tool),
pairs AS (
  SELECT a.tool AS tool_a, b.tool AS tool_b, CAST(count(*) AS BIGINT) AS c_ab
  FROM bt a JOIN bt b ON a.conv_id = b.conv_id AND a.tool < b.tool
  GROUP BY 1, 2)
SELECT p.tool_a, p.tool_b, p.c_ab, sa.c AS c_a, sb.c AS c_b,
       round(CAST(p.c_ab AS DOUBLE) * (SELECT nb FROM n)
             / (sa.c * CAST(sb.c AS DOUBLE)), 6) AS lift
FROM pairs p JOIN singles sa ON sa.tool = p.tool_a
             JOIN singles sb ON sb.tool = p.tool_b""",
        "ivf_filtered_topk": _ivf_topk_sql(filter_label=True),
        "lang_confusion": f"""
WITH pred AS ({_LANGID_SQL.strip()})
SELECT d.lang AS lang_true, p.lang_pred, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN pred p ON p.doc_id = d.doc_id
GROUP BY 1, 2""",
        "tool_predictability": f"""WITH {_TRANSCRIPTS_CTE},
tt AS (SELECT conv_id, turn_idx, tool,
              lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
       FROM transcripts WHERE role = 'tool'),
trans AS (SELECT prev_tool AS src_tool, tool AS dst_tool, CAST(count(*) AS BIGINT) AS n
          FROM tt WHERE prev_tool IS NOT NULL GROUP BY prev_tool, tool),
tot AS (SELECT src_tool, CAST(sum(n) AS BIGINT) AS n_total FROM trans GROUP BY src_tool),
top AS (SELECT src_tool, dst_tool AS top_next, n AS top_n FROM (
    SELECT src_tool, dst_tool, n,
           row_number() OVER (PARTITION BY src_tool ORDER BY n DESC, dst_tool ASC) AS rn
    FROM trans) x WHERE rn = 1)
SELECT t.src_tool, t.top_next, t.top_n, o.n_total,
       round(CAST(t.top_n AS DOUBLE) / o.n_total, 6) AS top_share
FROM top t JOIN tot o ON o.src_tool = t.src_tool""",
        "mean_shift": """
WITH b AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
pre AS (
  SELECT event_type, bucket,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS prefix,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS t,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
         count(n) OVER (PARTITION BY event_type) AS n_buckets
  FROM b),
scored AS (
  SELECT event_type, bucket AS split_start,
         CAST(t AS BIGINT) AS t_left,
         CAST(n_buckets - t AS BIGINT) AS t_right,
         prefix AS left_sum,
         CAST(total - prefix AS BIGINT) AS right_sum,
         round(abs(CAST(prefix AS DOUBLE) / CAST(t AS DOUBLE)
                   - CAST(total - prefix AS DOUBLE) / CAST(n_buckets - t AS DOUBLE)), 6) AS shift
  FROM pre WHERE t < n_buckets)
SELECT event_type, split_start, t_left, t_right, left_sum, right_sum, shift
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY shift DESC, split_start ASC) AS rn
      FROM scored) x
WHERE rn = 1""",
        "bm25_topk": _bm25_sql(),
        "bigram_surprisal": _BIGRAM_SURPRISAL_SQL,
        "dsir_weights": _dsir_sql(),
        "dsir_select": _dsir_select_sql(),
        "semdedup2": _semdedup_sql(),
        "bridges_weak": _bridges_sql(),
        "two_edge_comps": _two_edge_comps_sql(),
        "articulation_points": _articulation_sql(),
        "biconnected_blocks": _biconnected_sql(),
        "bpe_learn": _bpe_sql(BPE_ROUNDS),
        "bpe_tokenize": _bpe_tokenize_sql(BPE_ROUNDS),
    }
