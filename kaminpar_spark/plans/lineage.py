"""Lineage truncation that keeps the data layout and resets Catalyst statistics.

The iterative-Spark trap this engine hit (and every superstep engine will):
``df.localCheckpoint(eager=True)`` truncates the *plan* to a LogicalRDD leaf
but copies the parent plan's **estimated statistics** into that leaf. Size
estimation for a join is the *product* of child sizes
(SizeInBytesOnlyStatsPlanVisitor), so a bushy join tree squares the estimate
several times per superstep; carrying the result into the next superstep's
leaf compounds it DOUBLE-exponentially. After ~5 supersteps the sizeInBytes
BigInt has tens of thousands of digits and the driver burns minutes per plan
in BigInteger multiplication (observed: step 5 of an LP loop took 21 s, step
6 took 67 s, step 7 never finished).

``truncate`` therefore wraps the checkpointed RDD in a **fresh** LogicalRDD
with no inherited stats (leaf estimate = spark.sql.defaultSizeInBytes), so
every superstep's planning cost is flat.

The fresh leaf keeps the output partitioning and ordering of the plan that
ran. That is what makes supersteps co-partitioned (Pregelix's vertex/message
layout): the prepared edge table is hash-partitioned by ``src``, every vertex
state that comes out of a join or aggregate on ``id`` is hash-partitioned by
``id``, and Catalyst sees both, so a steady superstep shuffles only its
messages (the ``groupBy(dst)`` aggregate), never the edge side or the state.
A leaf built from a bare RDD reports ``UnknownPartitioning`` and re-shuffles
every reference to it. Spark's own checkpoint leaf keeps only the first
member of a partitioning collection and writes it against the logical
output, whose attribute ids differ from the physical plan's wherever the
optimizer removed an alias, so its layout often names columns the leaf does
not have; ``truncate`` takes the physical plan's output and layout whole,
and reports none when that layout is not about the leaf's own columns.

Why ``GraphFrame.prepare`` materializes with ``truncate`` and never with
``persist()``: Spark's cache lookup matches plans by their canonical form,
and over partitioned checkpoint leaves it misses the deduplicated side of a
self-join (PageRank's initial state joins the node table with an aggregate
of the edges the nodes were derived from). The missed side is re-planned
from the upstream lineage, which fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
once that lineage's checkpoint is released. Spark's ``localCheckpoint``
leaves behave the same way; a ``truncate``d leaf has no lineage to fall back
to.
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs (includes localCheckpoint blocks)."""
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def truncate(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + statistics reset, keeping the data layout of
    the plan that produced ``df``. Use for every superstep state.

    The returned DataFrame carries ``_kaminpar_chk_ids`` — the persistent RDD
    ids its checkpoint created — so iterative drivers can ``release`` a
    superseded superstep's blocks instead of accumulating one localCheckpoint
    per superstep in the block manager for the lifetime of the job (an evicted
    checkpoint block is unrecoverable once lineage is truncated, so long runs
    must release explicitly rather than rely on LRU eviction)."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    qe = df._jdf.queryExecution()
    rdd = df.localCheckpoint(eager=True)._jdf.logicalPlan().rdd()
    # The checkpoint ran ``qe``'s physical plan, so its partitions are the
    # ones that plan describes; the layout is only known once it has run.
    # Under AQE that is the adaptive plan's final plan (the adaptive root
    # reports UnknownPartitioning, which is what Spark's own checkpoint
    # keeps). A coalesced shuffle read there reports
    # CoalescedHashPartitioning, which only co-partitions with a read
    # coalesced at the same boundaries, as Spark does within one query.
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    # The leaf takes the physical plan's output attributes, which the
    # partitioning and ordering are written in (the logical output can carry
    # other ids where the optimizer removed an alias).
    fresh = _leaf(spark, plan.output(), rdd, plan.outputPartitioning(), plan.outputOrdering())
    if not _layout_holds(spark, fresh, rdd.getNumPartitions()):
        unknown = spark._jvm.org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
            rdd.getNumPartitions()
        )
        fresh = _leaf(spark, plan.output(), rdd, unknown, spark._jvm.PythonUtils.toSeq([]))
    out = DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, fresh), spark
    )
    out._kaminpar_chk_ids = persistent_rdd_ids(spark) - before
    return out


def _leaf(spark, output, rdd, partitioning, ordering):
    """A LogicalRDD over ``rdd`` with no statistics (its size estimate is
    spark.sql.defaultSizeInBytes) and fresh attribute ids, so it never
    aliases the columns of the DataFrame it was checkpointed from."""
    none = spark._jvm.scala.Option.empty()
    return spark._jvm.org.apache.spark.sql.execution.LogicalRDD(
        output,
        rdd,
        partitioning,
        ordering,
        False,  # isStreaming
        none,  # stream
        spark._jsparkSession,
        none,  # originStats
        none,  # originConstraints
    ).newInstance()


def _layout_holds(spark, leaf, num_partitions: int) -> bool:
    """True when the leaf's partitioning counts its RDD's partitions and it
    and the ordering name only the leaf's own columns. A layout written in
    attributes the plan no longer outputs (or that ``newInstance`` could not
    map) can never be used, so the leaf reports none."""
    p = leaf.outputPartitioning()
    if p.numPartitions() != num_partitions:
        return False
    exprs = [leaf.outputOrdering().apply(i) for i in range(leaf.outputOrdering().size())]
    if is_instance_of(spark._sc._gateway, p, "org.apache.spark.sql.catalyst.expressions.Expression"):
        exprs.append(p)  # SinglePartition and the like name no column
    own = leaf.outputSet()
    return all(e.references().subsetOf(own) for e in exprs)


def release(df: DataFrame | None) -> None:
    """Unpersist the checkpoint blocks behind a ``truncate``d DataFrame. The
    DataFrame must not be used afterwards (its lineage cannot recompute)."""
    ids = getattr(df, "_kaminpar_chk_ids", None)
    if not ids:
        return
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)
    df._kaminpar_chk_ids = set()


# Note on ADAPTIVE staging checkpoints (tried and reverted, r5): VERDICT r4
# hypothesized the signature-table checkpoint write stops paying at high
# parallelism (DEDUP_SCALING local[32] drift 42.5 -> 57.1 s) and an adaptive
# truncate_if_profitable(df, max_cores=16) was implemented here. A controlled
# A/B at local[32] on the same host (checkpoint/skip interleaved, 1M docs)
# then measured checkpoint 45.4/40.2 s vs skip 53.5/54.6 s — ONE write beats
# four consumer recomputes at every parallelism level, so the unconditional
# ``truncate`` stays and the r4 drift is attributed to host noise plus the
# kernel gaining the bucket breaker + identical-signature star between the
# two compared measurements.


def carry(df: DataFrame, *sources: DataFrame) -> DataFrame:
    """Propagate the checkpoint-block ids of intermediate ``truncate``d
    tables onto the DataFrame a pipeline RETURNS, so a multi-query driver
    can ``release(result)`` after its final action and drop every block the
    pipeline pinned (pipelines like minhash_dedup_pairs checkpoint internal
    staging tables whose blocks would otherwise stay persisted for the
    session lifetime — the accumulation this module's header warns about)."""
    ids: set[int] = set(getattr(df, "_kaminpar_chk_ids", None) or set())
    for s in sources:
        ids |= getattr(s, "_kaminpar_chk_ids", None) or set()
    df._kaminpar_chk_ids = ids
    return df


def release_ids(spark, ids: set[int]) -> None:
    """Unpersist a set of RDD ids (for intermediates a superstep created and
    no longer needs once its output state is materialized)."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)
