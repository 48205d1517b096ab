"""Bulk-synchronous superstep loop with checkpointed lineage.

The reference's iterative kernels (label propagation, balancer, coarsening
loop — parallel_label_propagation.h:169-216, parallel_balancer.cc:29-115)
mutate shared arrays in place across iterations. The Spark-native equivalent
is one driver loop over immutable vertex-state DataFrames,
``run_supersteps``, which every iterative operator calls. It handles the two
chronic iterative-Spark problems:

1. **Lineage blowup**: each superstep's plan references the previous one;
   after ~20 iterations Catalyst analysis dominates. Every superstep is
   materialized and its lineage cut: ``lineage.truncate`` in memory, or a
   parquet snapshot when a ``SuperstepRunner`` is given.
2. **Block-manager growth**: once a superstep is materialized, the
   superseded state's checkpoint and every checkpoint the step took that the
   new state does not carry are unpersisted, so a run of any length keeps
   one live state. A truncated state cannot be recomputed once its blocks
   are evicted, so the loop releases rather than relying on LRU eviction.

``SuperstepRunner`` is the store behind a durable run (north rule): each
superstep's state is written as parquet under ``workdir/<name>/step=<i>/``
plus a ``manifest.jsonl`` line with its convergence metrics (residual L1,
moved-label count, edge cut — whatever the algorithm reports). A re-run
with the same workdir resumes after the last completed superstep and
replays nothing. A durable step continues from the snapshot it read back,
not from the DataFrame it wrote: that read-back is exactly what a resumed
run starts from, so an uninterrupted run and a killed-and-resumed one run
the same plans over the same input and give bit-identical results.

Contract:
    step(state, i)    -> new_state (LAZY — the loop materializes it)
    metrics(new_state) -> dict      (runs against the materialized state)
    converged(metrics) -> bool
The new state may carry scratch columns (e.g. ``old_rank``) that ``metrics``
needs; callers project them away after the loop and ``lineage.carry`` the
final state's checkpoint ids onto the projection, so that ``release`` of
the result frees them.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from kaminpar_spark.plans.lineage import persistent_rdd_ids, release, release_ids, truncate
from kaminpar_spark.sources.iceberg import read_table, write_table

StepFn = Callable[[DataFrame, int], DataFrame]
MetricsFn = Callable[[DataFrame], dict]
ConvergedFn = Callable[[dict], bool]


def run_supersteps(
    state: DataFrame,
    step: StepFn,
    metrics: MetricsFn,
    converged: ConvergedFn,
    max_iters: int,
    runner: SuperstepRunner | None = None,
    name: str = "supersteps",
    on_metrics: Callable[[int, dict], None] | None = None,
    truncate_init: bool = True,
) -> DataFrame:
    """Run ``step`` from ``state`` until ``converged`` or ``max_iters``
    supersteps; returns the final materialized state.

    With a ``runner`` every step is a durable snapshot under ``name`` and a
    run resumes after the last completed step (a converged one returns its
    snapshot at once). ``on_metrics(i, metrics)`` is called after every
    step on both paths.

    A fresh run truncates ``state`` before the first step; a caller passes
    ``truncate_init=False`` when its state is already truncated, or is a
    projection cheap enough for the first step to compute inline."""
    start = 0
    if runner is not None:
        start, resumed, done = runner.resume_point(name)
        if done:
            return resumed
        if resumed is not None:
            state = resumed
    if start == 0 and truncate_init:
        state = truncate(state)
    spark = state.sparkSession
    for i in range(start, max_iters):
        t0 = time.time()
        pre = persistent_rdd_ids(spark)
        if runner is None:
            new = truncate(step(state, i))
        else:
            new = runner.snapshot(name, i, step(state, i))
            rows = new.count()
        m = metrics(new)
        is_conv = converged(m)
        if runner is not None:
            runner.record(name, i, rows, m, time.time() - t0, is_conv)
        # the superseded state, and whatever this step checkpointed that
        # ``new`` is not
        created = persistent_rdd_ids(spark) - pre
        release(state)
        release_ids(spark, created - getattr(new, "_kaminpar_chk_ids", set()))
        state = new
        if on_metrics:
            on_metrics(i, m)
        if is_conv:
            break
    return state


class SuperstepRunner:
    """Durable superstep store: parquet snapshot + manifest line per superstep.

    Layout:  <workdir>/<name>/manifest.jsonl
             <workdir>/<name>/step=<i>/   (parquet state snapshot)

    The manifest line carries {step, rows, metrics, wall_sec, path,
    converged} — the per-partition lineage + convergence metrics demanded by
    the north rule. Snapshot IO routes through sources.iceberg.write_table/
    read_table: a path workdir snapshots to parquet, a dotted Iceberg catalog
    identifier gets real atomic createOrReplace snapshots when the runtime
    JAR is present (see sources/iceberg.py for the spark-submit recipe).
    Pass it to ``run_supersteps`` (or an operator's ``runner=``).
    """

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir

    def _dir(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _manifest(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.jsonl")

    def completed_steps(self, name: str) -> list[dict]:
        path = self._manifest(name)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def resume_point(self, name: str) -> tuple[int, DataFrame | None, bool]:
        """(next step, the last snapshot read back or None on a fresh start,
        whether that snapshot converged). A snapshot read is already a flat
        plan: it needs no checkpoint on top."""
        done = self.completed_steps(name)
        if not done:
            return 0, None, False
        last = done[-1]
        return last["step"] + 1, read_table(self.spark, last["path"]), bool(last["converged"])

    def snapshot(self, name: str, i: int, df: DataFrame) -> DataFrame:
        """Write step ``i``'s state and return it read back."""
        path = os.path.join(self._dir(name), f"step={i}")
        write_table(df, path)
        return read_table(self.spark, path)

    def record(
        self, name: str, i: int, rows: int, metrics: dict, wall_sec: float, converged: bool
    ) -> None:
        """Append step ``i``'s manifest line."""
        rec = {
            "step": i,
            "rows": rows,
            "metrics": metrics,
            "wall_sec": round(wall_sec, 3),
            "path": os.path.join(self._dir(name), f"step={i}"),
            "converged": converged,
        }
        os.makedirs(self._dir(name), exist_ok=True)
        with open(self._manifest(name), "a") as f:
            f.write(json.dumps(rec) + "\n")
