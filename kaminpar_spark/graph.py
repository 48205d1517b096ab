"""GraphFrame: the engine's core data structure.

The reference stores an immutable CSR adjacency array over four flat arrays
(/root/reference/kaminpar/datastructure/graph.h:79-181: ``_nodes``, ``_edges``,
``_node_weights``, ``_edge_weights``). The Spark-native equivalent is an
**edge DataFrame** ``(src:long, dst:long, weight:long)``, symmetric (every
undirected edge materialized as both half-edges, mirroring the reference's
half-edge invariant, graph_utils.cc:15-40), hash-partitioned by ``src`` and
optionally *salted* for high-degree hubs, plus a **node DataFrame**
``(id:long, weight:long)``.

The CSR arrays exist only transiently inside Arrow batches of pandas-UDF
kernels; the distributed representation stays relational so Catalyst can plan
joins/aggregations.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("weight", T.LongType(), False),
    ]
)

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("weight", T.LongType(), False),
    ]
)


@dataclass
class GraphFrame:
    """Immutable symmetric weighted graph as DataFrames.

    edges: (src, dst, weight) — symmetric half-edges, no self-loops.
    nodes: (id, weight) — covers every endpoint plus isolated nodes.
    """

    edges: DataFrame
    nodes: DataFrame
    # Populated by .prepare(): hubs DataFrame (id, n_salts) and the salt factor.
    salt_factor: int = 1
    hubs: DataFrame | None = None
    _prepared: bool = field(default=False, repr=False)
    # True when `nodes` was derived from the edge endpoints (from_edge_pairs
    # with nodes=None) — lets prepare() rebuild it from the laid-out edge
    # blocks instead of dragging the full upstream lineage into every
    # node-table consumer.
    _nodes_derived: bool = field(default=False, repr=False)
    # num_nodes()/num_half_edges(), counted once: the frames never change.
    _num_nodes: int | None = field(default=None, repr=False)
    _num_half_edges: int | None = field(default=None, repr=False)

    # ---------------------------------------------------------------- build
    @staticmethod
    def from_edge_pairs(
        pairs: DataFrame,
        nodes: DataFrame | None = None,
        symmetrize: bool = True,
        combine_parallel: bool = True,
    ) -> "GraphFrame":
        """Build from a possibly-directed (src, dst[, weight]) DataFrame.

        Parallel edges are combined by summing weights (the reference's
        converter dedups via its dynamic builder, apps/tools/converter/
        snap.h:11-33); self-loops dropped (graph_contraction.cc:117-119
        semantics).
        """
        cols = pairs.columns
        e = pairs.select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            (F.col("weight") if "weight" in cols else F.lit(1)).cast("long").alias("weight"),
        ).where(F.col("src") != F.col("dst"))
        if symmetrize:
            e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
        if combine_parallel:
            e = e.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
        derived = nodes is None
        if derived:
            nodes = (
                e.select(F.col("src").alias("id"))
                .distinct()
                .withColumn("weight", F.lit(1).cast("long"))
            )
        else:
            ncols = nodes.columns
            nodes = nodes.select(
                F.col("id").cast("long"),
                (F.col("weight") if "weight" in ncols else F.lit(1)).cast("long").alias("weight"),
            )
        return GraphFrame(edges=e, nodes=nodes, _nodes_derived=derived)

    # ------------------------------------------------------------- measures
    def num_nodes(self) -> int:
        if self._num_nodes is None:
            self._num_nodes = self.nodes.count()
        return self._num_nodes

    def num_half_edges(self) -> int:
        if self._num_half_edges is None:
            self._num_half_edges = self.edges.count()
        return self._num_half_edges

    def total_node_weight(self) -> int:
        """graph.cc:13-35 eager aggregate — here a lazy agg (computed on demand)."""
        return self.nodes.agg(F.sum("weight")).first()[0] or 0

    def total_edge_weight(self) -> int:
        return self.edges.agg(F.sum("weight")).first()[0] or 0

    def max_node_weight(self) -> int:
        return self.nodes.agg(F.max("weight")).first()[0] or 0

    def degrees(self) -> DataFrame:
        """(id, degree, weighted_degree) for every node (0 for isolated).

        Reference: degree(u) = nodes[u+1]-nodes[u] (graph.h:121-123); weighted
        degree at initial_refiner.h:370-376. One hash aggregate; partial+final
        combine handled by Catalyst.
        """
        d = self.edges.groupBy("src").agg(
            F.count("*").alias("degree"), F.sum("weight").alias("weighted_degree")
        )
        return (
            self.nodes.select("id")
            .join(d.hint("shuffle_hash"), self.nodes.id == d.src, "left")
            .select(
                "id",
                F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
                F.coalesce("weighted_degree", F.lit(0)).cast("long").alias("weighted_degree"),
            )
        )

    def degree_buckets(self) -> DataFrame:
        """Power-of-2 degree histogram: bucket b holds degree in [2^(b-1), 2^b).

        Reference: degree_bucket(deg) = deg==0 ? 0 : floor_log2(deg)+1
        (graph.cc:6-7); histogram tool at apps/tools/graph_statistics.cc:147-152.
        """
        return (
            self.degrees()
            .select(
                F.when(F.col("degree") == 0, F.lit(0))
                .otherwise(F.floor(F.log2("degree")) + 1)
                .cast("int")
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("n_nodes"))
        )

    # ------------------------------------------------------------ invariants
    def asymmetric_edges(self) -> DataFrame:
        """Half-edges whose reverse (with equal weight) is missing.

        Spark form of validate_graph (graph_utils.cc:15-40): an anti-join of
        the edge table against its own transpose must be empty.
        """
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("weight")
        )
        return self.edges.join(rev, ["src", "dst", "weight"], "left_anti")

    def validate(self) -> None:
        bad = self.asymmetric_edges().limit(1).count()
        if bad:
            raise AssertionError("graph is not symmetric (missing reverse half-edges)")
        loops = self.edges.where(F.col("src") == F.col("dst")).limit(1).count()
        if loops:
            raise AssertionError("graph contains self-loops")

    # ------------------------------------------------------------- transforms
    def isolated_nodes(self) -> DataFrame:
        """Nodes with degree 0 (graph_utils.cc:217-239) via anti-join."""
        return self.nodes.join(
            self.edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        )

    def without_isolated_nodes(self) -> "GraphFrame":
        """Drop degree-0 nodes (graph_utils.cc:241-290). Epsilon rescaling is
        scalar driver math — see functions.rules.adapt_epsilon_after_isolated_removal."""
        keep = self.edges.select(F.col("src").alias("id")).distinct()
        return GraphFrame(edges=self.edges, nodes=self.nodes.join(keep, "id", "left_semi"))

    def subgraph(self, members: DataFrame) -> "GraphFrame":
        """Induced subgraph on ``members(id)`` (extract_subgraphs.cc:143-207):
        semi-join both endpoints; node ids are NOT renumbered (callers that
        need dense ids compose with ids.dense_ids)."""
        m = members.select("id")
        e = (
            self.edges.join(m.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(m.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst", "weight")
        )
        return GraphFrame(edges=e, nodes=self.nodes.join(m, "id", "left_semi"))

    # -------------------------------------------------------------- prepare
    def prepare(
        self,
        num_partitions: int | None = None,
        hub_degree_threshold: int = 1 << 14,
        salt_factor: int = 8,
        spark: SparkSession | None = None,
    ) -> "GraphFrame":
        """Materialize the scale layout: hash-partitioned edge blocks that
        every superstep joins without shuffling them again.

        A graph without hubs is laid out by ``src`` alone: ``edges`` keep
        (src, dst, weight), hash-partitioned by ``src`` into
        ``num_partitions``. The node table is hash-partitioned by ``id``
        into the same count, so a vertex state that comes out of a join or
        aggregate on ``id`` is co-partitioned with the edges, and the gather
        join (``src == id``) runs with no exchange on either side.

        The reference *skips* nodes with degree >= large_degree_threshold in LP
        (parallel_label_propagation.h:200). We instead *salt* them (north
        rule): a hub ``src`` with degree d >= threshold gets its edges spread
        over ``salt_factor`` sub-partitions via ``salt = pmod(xxhash64(dst),
        S)`` (non-hub rows get salt 0). A graph with hubs carries that
        ``salt`` column and is hash-partitioned by (src, salt); its gather
        joins on (src, salt) with the small state side exploded over the
        hub's salts, so only the state shuffles. Partial aggregation
        recombines.

        Edges, nodes and hubs are ``lineage.truncate``d (not persisted; see
        that module's header for why), so the layout survives into every
        plan over them; ``unpersist()`` releases their blocks. Supersteps
        stay co-partitioned when ``num_partitions`` equals
        ``spark.sql.shuffle.partitions`` (the default).
        """
        from kaminpar_spark.plans.lineage import release, truncate

        spark = spark or SparkSession.getActiveSession()
        num_partitions = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        # Materialize the edge table ONCE before the two consumers below:
        # without this, the hub-degree job and the layout job each drag
        # the full upstream lineage (ETL window + dense-id joins) through a
        # separate execution — prepare paid the whole ETL twice (measured
        # ~2x prepare wall at sf0.1).
        base = truncate(self.edges.select("src", "dst", "weight"))
        deg = base.groupBy("src").agg(F.count("*").alias("degree"))
        hubs = truncate(
            deg.where(F.col("degree") >= hub_degree_threshold).select(
                F.col("src").alias("id"), F.lit(salt_factor).alias("n_salts")
            )
        )
        if hubs.count():  # the hub set is small by construction
            e = base.join(F.broadcast(hubs), base.src == hubs.id, "left").select(
                "src",
                "dst",
                "weight",
                F.when(
                    F.col("n_salts").isNotNull(),
                    F.pmod(F.xxhash64("dst"), F.lit(salt_factor)),
                )
                .otherwise(F.lit(0))
                .cast("int")
                .alias("salt"),
            )
            e = truncate(e.repartition(num_partitions, "src", "salt"))
        else:
            release(hubs)
            hubs = None
            e = truncate(base.repartition(num_partitions, "src"))
        release(base)  # the layout is materialized; drop the staging copy
        # Rebuild a derived node table from the laid-out edges: the original
        # `nodes` plan hangs off the full upstream lineage (ETL, dense-ids,
        # ...), which every consumer (num_nodes, each operator's init state)
        # would otherwise recompute from scratch — measured 10s per consumer
        # at sf0.1 vs <1s for a distinct over the edge blocks. Explicit node
        # tables (weights / isolated nodes) are laid out by id as they are.
        if self._nodes_derived:
            nodes = e.select(F.col("src").alias("id")).distinct()
            nodes = nodes.withColumn("weight", F.lit(1).cast("long"))
        else:
            nodes = self.nodes.repartition(num_partitions, "id")
        prepared = GraphFrame(
            edges=e,
            nodes=truncate(nodes),
            salt_factor=salt_factor if hubs is not None else 1,
            hubs=hubs,
            _nodes_derived=self._nodes_derived,
        )
        prepared._prepared = True
        return prepared

    def salted_state(self, state: DataFrame) -> DataFrame:
        """Explode a vertex-state DataFrame (keyed ``id``) over hub salts so it
        can equi-join the salted edge layout on (src==id, salt). Non-hub rows
        get the single salt 0. Only for a prepared graph with hubs."""
        s = state.join(F.broadcast(self.hubs.select("id", "n_salts")), "id", "left")
        return (
            s.withColumn(
                "salt",
                F.explode(
                    F.when(
                        F.col("n_salts").isNotNull(),
                        F.sequence(F.lit(0), F.col("n_salts") - 1),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .withColumn("salt", F.col("salt").cast("int"))
            .drop("n_salts")
        )

    def gather(self, state: DataFrame, value_cols: list[str]) -> DataFrame:
        """THE join of the engine (J1, parallel_label_propagation.h:278-286):
        attach per-``src`` vertex state to every half-edge. Returns
        (src, dst, weight, *value_cols); aggregate by ``dst`` downstream to
        implement scatter-sum/min/argmax.

        On a prepared graph the edge side is never shuffled: without hubs
        the join is on ``src`` alone, matching the edge layout, and a state
        partitioned by ``id`` (every truncated superstep state) is not
        shuffled either; with hubs the join is on (src, salt), matching the
        salted layout, and only the exploded state shuffles."""
        # Join-strategy note (measured at 9.45M half-edges, 750k nodes):
        # lineage.truncate resets the state leaf's stats to
        # defaultSizeInBytes (= huge), so unhinted the planner sort-merge-
        # joins — sorting the m-scale edge side EVERY superstep (PR
        # superstep 15s). broadcast() fixes the sort but serializes a
        # driver-side relation build per superstep (12s). SHUFFLE_HASH is
        # right at every scale: the edge side's hash partitioning is reused
        # (no exchange, no sort) and the per-partition build is
        # n / num_partitions rows (1.4s, and scales with cores). The
        # unprepared path takes the same hint: without it even a one-shot
        # gather SORTS the m-scale edge side.
        s = state.select("id", *value_cols)
        if self.hubs is not None:  # only prepare() sets hubs
            s = self.salted_state(s).hint("shuffle_hash")
            cond = (self.edges.src == s.id) & (self.edges.salt == s.salt)
        else:
            s = s.hint("shuffle_hash")
            cond = self.edges.src == s.id
        return self.edges.join(s, cond, "inner").select("src", "dst", "weight", *value_cols)

    def unpersist(self) -> None:
        """Release the blocks ``prepare`` materialized. The graph must not be
        used afterwards (its lineage is truncated)."""
        if self._prepared:
            from kaminpar_spark.plans.lineage import release

            release(self.edges)
            release(self.nodes)
            release(self.hubs)
