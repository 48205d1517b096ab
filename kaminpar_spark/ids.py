"""Dense id assignment without a global sort.

The reference densifies cluster leaders with a parallel prefix sum
(graph_contraction.cc:33-42 + tbb::parallel_scan). The naive Spark
translation — ``row_number().over(Window.orderBy(...))`` — is a
single-partition sort and dies at scale. This module implements the
two-level scheme (SURVEY.md §7.5.1):

1. hash-partition the distinct keys,
2. count rows per partition (P scalar rows to the driver),
3. broadcast cumulative offsets,
4. per-partition local rank via mapInPandas (Arrow; streaming counter per
   partition, no per-row Python).

Deterministic for a fixed partition count: ids are ordered by
(partition-of-hash(key), sort-order-within-partition). When a *stable global
order* is required (e.g. oracle comparisons) use ``dense_ids_by_order`` which
does the Window variant — fine for test scale, documented as such.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def dense_ids(
    df: DataFrame, key: str, num_partitions: int | None = None, out: str = "dense_id"
) -> DataFrame:
    """Map ``distinct df[key]`` -> dense 0..n-1 longs. Returns (key, out),
    carrying the checkpoint id of its frozen key table (``lineage.carry``).
    Default partition count follows spark.sql.shuffle.partitions."""
    import pandas as pd  # noqa: F401  (imported for the kernel closure)

    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    keys = df.select(key).distinct().repartition(num_partitions, key)
    keys = keys.sortWithinPartitions(key)  # determinism within partition
    # FREEZE the partition layout before the two passes. Without this, the
    # counting job and the assignment job are separate executions and AQE may
    # coalesce their shuffle partitions differently -> offset table keyed by
    # the wrong pids -> overlapping id ranges (silent node merging; observed
    # as a run-to-run half-edge count drift at bench scale).
    from kaminpar_spark.plans.lineage import carry, truncate

    keys = truncate(keys)
    counts = (
        keys.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for pid in range(num_partitions):
        offsets[pid] = acc
        acc += sizes.get(pid, 0)

    schema = f"{key} {dict(keys.dtypes)[key]}, {out} long"

    def assign(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        seen = 0
        for pdf in iterator:
            n = len(pdf)
            pdf = pdf.copy()
            pdf[out] = range(base + seen, base + seen + n)
            seen += n
            yield pdf

    return carry(keys.mapInPandas(assign, schema=schema), keys)


def dense_ids_by_order(df: DataFrame, key: str, out: str = "dense_id") -> DataFrame:
    """Globally-ordered dense ids via dense_rank — single-partition sort;
    test-scale / oracle-comparison use only."""
    w = Window.orderBy(key)
    return (
        df.select(key)
        .distinct()
        .withColumn(out, (F.dense_rank().over(w) - 1).cast("long"))
    )


def sorted_rank(
    df: DataFrame,
    key_cols: list[str],
    num_partitions: int | None = None,
    out: str = "rank",
) -> DataFrame:
    """Input columns + ``out`` = global 0-based SORT rank over ``key_cols``
    (callers append a unique tiebreaker column for a total order) — the
    order-preserving sibling of dense_ids, again WITHOUT a single-partition
    window:

    1. range-repartition by the keys (Spark samples split points, so ranges
       are balanced), sort within partitions, FREEZE the layout (truncate —
       same AQE-stability argument as dense_ids),
    2. count rows per range partition (P scalar rows to the driver),
    3. broadcast cumulative offsets,
    4. rank = offset(pid) + row_number within the range partition — the
       window partitions by pid, so its sort is bounded by one range
       partition, never the whole table.
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    from kaminpar_spark.plans.lineage import truncate

    cols = [F.col(c) for c in key_cols]
    part = df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
    part = truncate(part.withColumn("_pid", F.spark_partition_id()))
    counts = part.groupBy("_pid").count().collect()
    sizes = {r["_pid"]: r["count"] for r in counts}
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        part.join(off_df, "_pid")
        .withColumn(out, (F.col("_off") + F.row_number().over(w) - 1).cast("long"))
        .drop("_pid", "_off")
    )
