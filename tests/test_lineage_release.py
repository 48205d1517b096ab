"""Iterative loops must not accumulate checkpoint generations.

Every superstep loop (``plans.superstep.run_supersteps``, in memory or
durable) releases the superseded generation and the step's own
intermediates once its successor is materialized, and a loop-based
operator's result carries its final state's checkpoint ids, so that
``release(result)`` frees them. Without this, `rounds` copies of O(n) state
pile up in the block manager — unbounded storage growth for to-fixpoint
loops (core_numbers runs up to 100 rounds), with eviction/GC pressure on
long runs. The discipline is structural (bounded generations regardless
of round count); its wall-clock effect at bench sizes is within host run
variance and is not claimed as measured (BENCH/BPE_SCALING.md sweep).
These tests pin the bounded-block-count property.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.coloring import color_to_completion
from kaminpar_spark.operators.kcore import core_numbers, k_core_members


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _ring_with_clique(spark, n_ring: int = 40, k_clique: int = 6) -> GraphFrame:
    ring = spark.range(n_ring).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n_ring).alias("dst")
    )
    cl = spark.range(k_clique).alias("a").crossJoin(spark.range(k_clique).alias("b"))
    clique = cl.where(F.col("a.id") < F.col("b.id")).select(
        (F.col("a.id") + n_ring).alias("src"), (F.col("b.id") + n_ring).alias("dst")
    )
    return GraphFrame.from_edge_pairs(ring.unionByName(clique))


def test_core_numbers_fixpoint_releases_generations(spark):
    g = _ring_with_clique(spark)
    before = _n_persistent(spark)
    cores = core_numbers(g)  # iterates to fixpoint (many internal rounds)
    assert cores.agg(F.max("core")).first()[0] == 5  # the clique's core
    after = _n_persistent(spark)
    # one live generation (+ the graph's own prepared blocks), never
    # one-per-round: allow a small constant margin
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"


def test_k_core_members_releases_generations(spark):
    g = _ring_with_clique(spark)
    before = _n_persistent(spark)
    members = k_core_members(g, k=3)
    assert members.count() == 6  # only the clique survives the 3-core peel
    after = _n_persistent(spark)
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"


def test_color_to_completion_releases_generations(spark):
    g = _ring_with_clique(spark)
    before = _n_persistent(spark)
    colors = color_to_completion(g)
    assert colors.where(F.col("color").isNull()).count() == 0
    # proper coloring: no monochromatic edge
    e = g.edges.join(
        colors.withColumnRenamed("id", "src").withColumnRenamed("color", "ca"), "src"
    ).join(
        colors.withColumnRenamed("id", "dst").withColumnRenamed("color", "cb"), "dst"
    )
    assert e.where(F.col("ca") == F.col("cb")).count() == 0
    after = _n_persistent(spark)
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"


def test_pipeline_results_carry_and_release_staging_blocks(spark):
    """ADVICE r3: minhash_dedup_pairs / simhash128_near_pairs checkpoint
    internal staging tables; the RETURNED table must carry those block ids
    (lineage.carry) so a multi-query driver can release(result) after its
    final action and leave the block manager where it started."""
    from kaminpar_spark.functions.dedup import minhash_dedup_pairs
    from kaminpar_spark.plans.lineage import release

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    before = _n_persistent(spark)
    pairs = minhash_dedup_pairs(docs, threshold=0.5, num_hashes=8, bands=4)
    pairs.count()
    assert getattr(pairs, "_kaminpar_chk_ids", None), "result lost staging ids"
    assert _n_persistent(spark) > before  # staging is pinned while in use
    release(pairs)
    assert _n_persistent(spark) == before, "release left staging blocks behind"


def test_staging_checkpoint_blocks_are_releasable(spark):
    """The staging-checkpoint contract behind VERDICT r4 item 4's
    investigation (the adaptive variant was falsified by a local[32] A/B —
    see the note in plans/lineage.py — so the checkpoint is unconditional):
    a truncated staging table pins releasable block ids and the block
    manager returns to baseline after release."""
    from kaminpar_spark.plans.lineage import release, truncate

    before = _n_persistent(spark)
    df = truncate(spark.range(64).toDF("id"))
    assert getattr(df, "_kaminpar_chk_ids", None)
    assert df.count() == 64
    assert _n_persistent(spark) > before
    release(df)
    assert _n_persistent(spark) == before


def _leaves_only_result(spark, call):
    """Run ``call``; the only new persistent RDDs are the result's, and
    releasing the result returns the block manager to where it started."""
    from kaminpar_spark.plans.lineage import persistent_rdd_ids, release

    before = persistent_rdd_ids(spark)
    out = call()
    out.count()
    left = persistent_rdd_ids(spark) - before
    assert left <= getattr(out, "_kaminpar_chk_ids", set()), left
    release(out)
    assert not persistent_rdd_ids(spark) - before


def test_label_propagation_leaves_only_its_result(spark):
    from kaminpar_spark.operators.labelprop import label_propagation

    g = _ring_with_clique(spark)
    _leaves_only_result(spark, lambda: label_propagation(g, max_iters=1, max_cluster_weight=4))


def test_in_memory_pagerank_leaves_only_its_result(spark):
    from kaminpar_spark.operators.pagerank import pagerank

    g = _ring_with_clique(spark)
    _leaves_only_result(spark, lambda: pagerank(g, tol=0.0, max_iters=1))


def test_refine_and_balance_leave_only_their_result(spark):
    """``Partitioner._refine`` runs an LP refinement loop, then a
    ``balance`` round (the lopsided 30/16 split is still over the cap of 24
    after refinement)."""
    from kaminpar_spark.plans.partitioner import Partitioner

    g = _ring_with_clique(spark)
    lopsided = g.nodes.select("id", (F.col("id") >= 30).cast("int").alias("block"))
    p = Partitioner(g, refine_iters=1)
    _leaves_only_result(spark, lambda: p._refine(g, lopsided, 2, 24))


def test_transcript_graph_checkpoints_release_with_actor_map(spark):
    """The ETL's link and dense-id key checkpoints ride on the returned
    actor map: after ``prepare`` and ``unpersist``, ``release(amap)``
    leaves the block manager where it started."""
    from kaminpar_spark.plans.lineage import persistent_rdd_ids, release
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph

    before = persistent_rdd_ids(spark)
    g, amap = transcript_graph(synth_transcripts(spark, 20), 20, num_partitions=2)
    gp = g.prepare(num_partitions=2)
    gp.unpersist()
    assert len(amap._kaminpar_chk_ids) == 3
    release(amap)
    assert not persistent_rdd_ids(spark) - before
