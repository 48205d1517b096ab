"""Co-partitioned supersteps, pinned on the physical plan (no timing).

A prepared graph keeps its edge layout (hash by ``src``, or (src, salt)
with hubs) and every truncated vertex state keeps its hash partitioning by
``id``, so a steady superstep shuffles only its messages. The plan-count
tests read the executed plans with AQE off (the plan Catalyst commits to
before any runtime re-optimisation) and count its shuffle exchanges; the
AQE tests check that a layout coalesced at runtime stays truthful.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaminpar_spark import fixtures
from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.labelprop import lp_step
from kaminpar_spark.operators.pagerank import init_ranks, pagerank_step
from kaminpar_spark.plans.lineage import release, truncate

PARTS = 8  # the session fixture's spark.sql.shuffle.partitions


@pytest.fixture
def no_aqe(spark):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", old)


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _plan(df):
    return df._jdf.queryExecution().executedPlan()


def _exchanges(node) -> int:
    own = 1 if node.nodeName() == "Exchange" else 0
    return own + sum(_exchanges(c) for c in _children(node))


def _edge_side_shuffled(node, below_exchange: bool = False) -> bool:
    """True when an exchange sits between an edge-table scan (a leaf with a
    ``dst`` column) and the join that consumes it."""
    name = node.nodeName()
    if "Join" in name:
        below_exchange = False
    elif name == "Exchange":
        below_exchange = True
    kids = _children(node)
    if not kids:
        out = node.output()
        cols = {out.apply(i).name() for i in range(out.size())}
        return below_exchange and "dst" in cols
    return any(_edge_side_shuffled(c, below_exchange) for c in kids)


def _ring_with_chords(spark, n: int = 60) -> GraphFrame:
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    chords = spark.range(0, n, 3).select(
        F.col("id").alias("src"), ((F.col("id") + 7) % n).alias("dst")
    )
    return GraphFrame.from_edge_pairs(ring.unionByName(chords))


@pytest.fixture
def coalescing_aqe(spark):
    """AQE on, coalescing shuffle reads to a few small partitions: a
    ``truncate``d aggregate then sits in 1 < c < PARTS partitions, each a run
    of the PARTS hash partitions the shuffle wrote."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_truncate_keeps_partitioning_and_resets_size(spark):
    df = spark.range(200).select("id", (F.col("id") % 5).alias("v")).repartition(PARTS, "id")
    t = truncate(df)
    leaf = t._jdf.logicalPlan()
    assert leaf.outputPartitioning().toString().startswith("hashpartitioning(id#")
    size = t._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size == (1 << 63) - 1  # spark.sql.defaultSizeInBytes
    assert _exchanges(_plan(t.groupBy("id").agg(F.sum("v")))) == 0
    release(t)


def test_truncate_keeps_a_coalesced_layout_truthful(coalescing_aqe):
    """A coalesced read's partition i holds hash partitions [b_i, b_i+1) of
    the PARTS the shuffle wrote, not pmod(hash, c) == i. The leaf must say so
    (CoalescedHashPartitioning), so a join against a plain hash layout
    re-shuffles it instead of zipping partitions that do not match."""
    spark = coalescing_aqe
    rows = spark.range(1200).select((F.col("id") % 600).alias("k"), F.col("id").alias("v"))
    agg = truncate(rows.groupBy("k").agg(F.sum("v").alias("s")))
    p = agg._jdf.logicalPlan().outputPartitioning()
    c = agg.rdd.getNumPartitions()
    assert 1 < c < PARTS and p.numPartitions() == c
    assert p.getClass().getSimpleName() == "CoalescedHashPartitioning"
    keyed = truncate(
        spark.range(600).select(F.col("id").alias("k"), F.col("id").alias("w")).repartition(PARTS, "k")
    )
    got = agg.join(keyed, "k").agg(F.count("*"), F.sum(F.col("s") - F.col("w"))).first()
    # sum over k of (sum_{v = k mod 600} v) - k = sum of all v - sum of k
    assert tuple(got) == (600, sum(range(1200)) - sum(range(600)))
    for df in (agg, keyed):
        release(df)


def test_capped_lp_step_under_coalescing_aqe_matches_aqe_off(coalescing_aqe):
    """lp_step with a cluster-weight cap truncates its per-label weights
    (coalesced here) and joins them to the movers; labels must match a run
    whose every layout is a plain hash layout."""
    spark = coalescing_aqe
    g, _, _ = fixtures.erdos_renyi(spark, n=600, p=0.01, seed=11, hub_overlay=0)

    def run() -> list:
        gp = g.prepare(num_partitions=PARTS, spark=spark)
        s = truncate(gp.nodes.select("id", F.col("id").alias("label"), "weight", F.lit(0).alias("moved")))
        for i in range(2):  # step 1's label weights are the coalesced ones
            nxt = truncate(lp_step(gp, s, i, max_cluster_weight=3))
            release(s)
            s = nxt
        out = sorted(map(tuple, s.select("id", "label").collect()))
        release(s)
        gp.unpersist()
        return out

    coalesced = run()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    assert coalesced == run()


def test_steady_supersteps_shuffle_only_messages(no_aqe):
    spark = no_aqe
    gp = _ring_with_chords(spark).prepare(num_partitions=PARTS, spark=spark)
    assert gp.hubs is None and "salt" not in gp.edges.columns
    n = gp.num_nodes()

    s0 = truncate(init_ranks(gp, n))
    s1 = truncate(pagerank_step(gp, s0, n, dangling_mass=0.0))
    pr = _plan(pagerank_step(gp, s1, n, dangling_mass=0.0))
    assert _exchanges(pr) == 1, pr.toString()  # the groupBy(dst) messages
    assert not _edge_side_shuffled(pr), pr.toString()

    l0 = truncate(gp.nodes.select("id", F.col("id").alias("label"), "weight", F.lit(0).alias("moved")))
    l1 = truncate(lp_step(gp, l0, 0))
    lpa = _plan(lp_step(gp, l1, 1))
    # the (dst, label) score aggregate and its re-key by id
    assert _exchanges(lpa) == 2, lpa.toString()
    assert not _edge_side_shuffled(lpa), lpa.toString()

    assert _exchanges(_plan(gp.degrees())) == 0
    for df in (s0, s1, l0, l1):
        release(df)
    gp.unpersist()


def test_hub_layout_does_not_reshuffle_edges(no_aqe):
    spark = no_aqe
    g, _, _ = fixtures.erdos_renyi(spark, n=200, p=0.02, seed=7, hub_overlay=2)
    gp = g.prepare(num_partitions=PARTS, hub_degree_threshold=5, salt_factor=4, spark=spark)
    assert gp.hubs is not None and "salt" in gp.edges.columns
    # an explicit node table (this fixture passes one) keeps hash(id) too:
    # its plan aliases ``id``, so a layout written against the logical output
    # would name an id the leaf does not have
    assert _exchanges(_plan(gp.nodes.groupBy("id").agg(F.sum("weight")))) == 0
    state = truncate(gp.nodes.select("id", F.lit(1.0).alias("val")))
    plan = _plan(gp.gather(state, ["val"]).groupBy("dst").agg(F.sum("val")))
    assert not _edge_side_shuffled(plan), plan.toString()
    release(state)
    gp.unpersist()


def test_degrees_after_prepare_released_its_staging_copy(spark):
    """prepare releases the staging checkpoint of the input edges; nothing
    planned over the prepared graph may re-plan from it (persisted edge and
    node tables did: PageRank's initial state failed with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    gp = _ring_with_chords(spark).prepare(num_partitions=PARTS, spark=spark)
    deg = {r["id"]: r["degree"] for r in gp.degrees().collect()}
    assert len(deg) == gp.num_nodes() == 60
    assert sum(deg.values()) == gp.num_half_edges()
    assert min(deg.values()) >= 2  # every ring node has both ring neighbours
    state = truncate(init_ranks(gp, gp.num_nodes()))
    assert state.count() == 60
    release(state)
    gp.unpersist()
