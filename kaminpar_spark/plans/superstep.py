"""Bulk-synchronous superstep driver with checkpointed lineage.

The reference's iterative kernels (label propagation, balancer, coarsening
loop — parallel_label_propagation.h:169-216, parallel_balancer.cc:29-115)
mutate shared arrays in place across iterations. The Spark-native equivalent
is a driver loop over immutable vertex-state DataFrames, with two chronic
iterative-Spark problems handled here:

1. **Lineage blowup**: each superstep's plan references the previous one;
   after ~20 iterations Catalyst analysis dominates. Every superstep is
   materialized and its lineage truncated (``localCheckpoint`` in-memory, or
   a parquet write+reload when durable checkpoints are requested).
2. **Resumability** (north rule): ``SuperstepRunner`` writes each superstep's
   state as parquet under ``workdir/<name>/step=<i>/`` plus a
   ``manifest.jsonl`` line with convergence metrics (residual L1, moved-label
   count, edge cut — whatever the algorithm reports). A re-run with the same
   workdir resumes from the last completed superstep and replays nothing.

Contract:
    step(state, i)    -> new_state (LAZY — the runner materializes it)
    metrics(new_state) -> dict      (runs against the materialized state)
    converged(metrics) -> bool
The new state may carry scratch columns (e.g. ``old_rank``) that ``metrics``
needs; callers project them away after the loop.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from kaminpar_spark.plans.lineage import persistent_rdd_ids, release, release_ids, truncate
from kaminpar_spark.sources.iceberg import read_table, write_table

StepFn = Callable[[DataFrame, int], DataFrame]
MetricsFn = Callable[[DataFrame], dict]
ConvergedFn = Callable[[dict], bool]


def run_in_memory(
    state: DataFrame,
    step: StepFn,
    metrics: MetricsFn,
    converged: ConvergedFn,
    max_iters: int,
    on_metrics: Callable[[int, dict], None] | None = None,
) -> DataFrame:
    """Fast path: localCheckpoint per superstep (materialize + truncate
    lineage, stays in the block manager). Used by tests and bench inner loops.

    Block-manager hygiene: once a superstep's output is materialized, the
    PREVIOUS state's checkpoint blocks and any intermediates the step
    truncated internally are unpersisted — only the latest state stays live.
    Without this, a long run accumulates one unreclaimable checkpoint per
    superstep (eviction of a lineage-truncated block is data loss)."""
    spark = state.sparkSession
    state = truncate(state)
    for i in range(max_iters):
        pre = persistent_rdd_ids(spark)
        new = truncate(step(state, i))
        m = metrics(new)
        created = persistent_rdd_ids(spark) - pre
        release(state)  # previous superstep's blocks
        release_ids(spark, created - getattr(new, "_kaminpar_chk_ids", set()))
        state = new
        if on_metrics:
            on_metrics(i, m)
        if converged(m):
            break
    return state


class SuperstepRunner:
    """Durable superstep loop: parquet snapshot + manifest line per superstep.

    Layout:  <workdir>/<name>/manifest.jsonl
             <workdir>/<name>/step=<i>/   (parquet state snapshot)

    The manifest line carries {step, rows, metrics, wall_sec, path,
    converged} — the per-partition lineage + convergence metrics demanded by
    the north rule. Snapshot IO routes through sources.iceberg.write_table/
    read_table: a path workdir (this sandbox) snapshots to parquet, a dotted
    Iceberg catalog identifier gets real atomic createOrReplace snapshots
    when the runtime JAR is present (see sources/iceberg.py for the
    spark-submit recipe).
    ``checkpoint_every=k`` trades durability for speed: intermediate steps
    use localCheckpoint, every k-th goes to parquet (resume restarts from the
    last durable step).
    """

    def __init__(self, spark, workdir: str, checkpoint_every: int = 1):
        self.spark = spark
        self.workdir = workdir
        self.checkpoint_every = max(1, checkpoint_every)

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

    def clear(self, name: str) -> None:
        shutil.rmtree(self._dir(name), ignore_errors=True)

    def run(
        self,
        name: str,
        init_state: DataFrame,
        step: StepFn,
        metrics: MetricsFn,
        converged: ConvergedFn,
        max_iters: int,
        resume: bool = True,
    ) -> DataFrame:
        if not resume:
            self.clear(name)
        os.makedirs(self._dir(name), exist_ok=True)
        done = [r for r in self.completed_steps(name) if r.get("durable")]
        if done:
            # a snapshot read is already a flat plan: no checkpoint on top
            last = done[-1]
            state = read_table(self.spark, last["path"])
            if last.get("converged"):
                return state
            start = last["step"] + 1
        else:
            start, state = 0, truncate(init_state)
        for i in range(start, max_iters):
            t0 = time.time()
            pre = persistent_rdd_ids(self.spark)
            new = step(state, i)
            durable = (i % self.checkpoint_every == 0) or (i == max_iters - 1)
            snap = os.path.join(self._dir(name), f"step={i}")
            if durable:
                write_table(new, snap)
                new = read_table(self.spark, snap)
            else:
                new = truncate(new)
            rows = new.count()
            m = metrics(new)
            is_conv = converged(m)
            if is_conv and not durable:
                # converged on a non-durable step: persist it after all
                write_table(new, snap)
                new = read_table(self.spark, snap)
                durable = True
            rec = {
                "step": i,
                "rows": rows,
                "metrics": m,
                "wall_sec": round(time.time() - t0, 3),
                "path": snap if durable else None,
                "durable": durable,
                "converged": is_conv,
            }
            with open(self._manifest(name), "a") as f:
                f.write(json.dumps(rec) + "\n")
            # Block-manager hygiene as in run_in_memory: the superseded state
            # and whatever this step checkpointed that ``new`` is not.
            created = persistent_rdd_ids(self.spark) - pre
            release(state)
            release_ids(self.spark, created - getattr(new, "_kaminpar_chk_ids", set()))
            state = new
            if is_conv:
                break
        return state
