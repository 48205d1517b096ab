"""The traced pass: installs spans around the library's layer functions, runs
one pass of the workload with Spark job groups per span, and turns the spans
plus the Spark event log into the per-layer metrics.
"""

from __future__ import annotations

import statistics
import sys
import time

import numpy as np

from eventlog import GroupStats, read_events, summarize
from spans import Span, Tracer

MB = 2**20

# (attribute of plans.partitioner, layer) of the partitioner's wrapped calls
PARTITIONER_LAYERS = [
    ("label_propagation", "coarsen.lp"),
    ("merge_singleton_clusters", "coarsen.merge"),
    ("contract", "coarsen.contract"),
    ("best_of_bisections", "initial.bisect"),
    ("extend_partition", "uncoarsen.extend"),
    ("lp_step", "uncoarsen.refine_lp"),
    ("balance", "uncoarsen.balance"),
]

# every per-layer metric, in report order, with its unit
PER_LAYER = {
    "etl.wall_s": "s", "etl.jobs": "count",
    "prepare.wall_s": "s", "prepare.shuffle_write_mb": "MB",
    "pagerank.step_p50_s": "s", "pagerank.step_p90_s": "s",
    "pagerank.jobs_per_step": "count", "pagerank.shuffle_mb_per_step": "MB",
    "lpa.step_p50_s": "s", "lpa.jobs_per_step": "count", "lpa.shuffle_mb_per_step": "MB",
    "coarsen.lp.wall_s": "s", "coarsen.lp.jobs": "count", "coarsen.lp.tasks": "count",
    "coarsen.contract.wall_s": "s", "coarsen.contract.jobs": "count",
    "coarsen.levels": "count", "coarsen.shrink": "ratio", "partition.cut": "count",
    "initial.collect.wall_s": "s", "initial.collect.rows": "count",
    "initial.bisect.wall_s": "s", "driver_py_cpu_s": "s",
    "uncoarsen.refine_lp.wall_s": "s", "uncoarsen.refine_lp.jobs": "count",
    "uncoarsen.extend.wall_s": "s", "uncoarsen.extend.tasks": "count", "worker_py_cpu_s": "s",
    "uncoarsen.balance.wall_s": "s", "uncoarsen.balance.jobs": "count",
    "uncoarsen.balance.calls": "count",
    "metrics.quality.wall_s": "s",
    "truncate.calls": "count", "truncate.wall_s": "s", "live_checkpoint_rdds": "count",
    "snapshot.write_s": "s", "snapshot.read_s": "s", "snapshot.bytes": "bytes",
    "resume.wall_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "jvm_cpu_s": "s",
    "core_busy_frac": "ratio",
    "trace.coverage": "ratio", "trace.overhead": "ratio",
}


def make_tracer(spark) -> Tracer:
    """A tracer whose spans each run under their own Spark job group."""
    sc = spark.sparkContext

    def enter(sp: Span) -> None:
        sc.setJobGroup(sp.group, sp.name)

    def leave(sp: Span, resumed: Span | None) -> None:
        if resumed is not None:
            sc.setJobGroup(resumed.group, resumed.name)
        else:
            sc._jsc.clearJobGroup()

    return Tracer(on_enter=enter, on_exit=leave)


def install(tracer: Tracer) -> None:
    """Wrap the partitioner's layer calls, the quality metrics, the
    superstep snapshot IO and every binding of ``lineage.truncate``."""
    from kaminpar_spark.operators import metrics
    from kaminpar_spark.plans import lineage, partitioner, superstep

    for attr, layer in PARTITIONER_LAYERS:
        tracer.wrap(partitioner, attr, layer)
    tracer.wrap(
        partitioner.Partitioner, "_collect_small", "initial.collect",
        record=lambda out: {"rows": int(out[0].n + len(out[0].indices))},
    )
    tracer.wrap(partitioner.Partitioner, "_refine", "uncoarsen.refine")
    tracer.wrap(metrics, "quality", "metrics.quality")
    tracer.wrap(superstep, "write_table", "snapshot.write")
    tracer.wrap(superstep, "read_table", "snapshot.read")
    orig = lineage.truncate
    owners = [
        m for name, m in list(sys.modules.items())
        if name.startswith("kaminpar_spark") and getattr(m, "truncate", None) is orig
    ]
    for m in owners:
        tracer.wrap_materializer(m, "truncate")


def traced_pass(spark, wl, tracer: Tracer, sampler) -> dict:
    """One pass of ``wl`` under the tracer; its check runs afterwards."""
    from kaminpar_spark.plans.lineage import persistent_rdd_ids

    install(tracer)
    cpu0, pcpu0 = sampler.cpu_by_kind(), time.process_time()
    own0 = tracer.own_s
    try:
        with tracer.span(wl.name) as root:
            out = wl.run(tracer)
    finally:
        tracer.restore()
        spark.sparkContext._jsc.clearJobGroup()
    cpu1, pcpu1 = sampler.cpu_by_kind(), time.process_time()
    live = len(persistent_rdd_ids(spark))
    failures, measured = wl.check(out)
    return {
        "root": root,
        "tracer_s": tracer.own_s - own0,
        "out": {k: v for k, v in out.items() if k.endswith("_s")},
        "measured": measured,
        "check": (failures, measured),
        "live_checkpoint_rdds": live,
        "driver_py_cpu_s": pcpu1 - pcpu0,
        "jvm_cpu_s": cpu1.get("jvm", 0.0) - cpu0.get("jvm", 0.0),
        "worker_py_cpu_s": cpu1.get("python_worker", 0.0) - cpu0.get("python_worker", 0.0),
    }


def _subtree(sp: Span) -> list[Span]:
    out, todo = [], [sp]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(s.children)
    return out


def _stats(spans: list[Span], groups: dict) -> GroupStats:
    total = GroupStats()
    for sp in spans:
        if sp.group in groups:
            total.add(groups[sp.group])
    return total


def per_layer_metrics(
    tracer: Tracer, traced: dict, events_dir: str, nproc: int
) -> tuple[dict, dict]:
    """(metrics {name: (value, unit)}, report) from the spans and event log.
    A layer the workload does not run reads 0."""
    groups = summarize(read_events(events_dir))
    root: Span = traced["root"]
    in_pass = _subtree(root)
    by_layer: dict[str, list[Span]] = {}
    for sp in tracer.spans:
        by_layer.setdefault(sp.layer, []).append(sp)

    def layer_spans(*layers: str) -> list[Span]:
        return [sp for layer in layers for sp in by_layer.get(layer, [])]

    def wall(*layers: str) -> float:
        return sum(sp.self_s() for sp in layer_spans(*layers))

    def inclusive(*layers: str) -> list[Span]:
        seen: dict[int, Span] = {}
        for sp in layer_spans(*layers):
            for s in _subtree(sp):
                seen[s.sid] = s
        return list(seen.values())

    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    v["etl.wall_s"] = wall("etl")
    v["etl.jobs"] = len(_stats(layer_spans("etl"), groups).jobs)
    v["prepare.wall_s"] = wall("prepare")
    v["prepare.shuffle_write_mb"] = _stats(layer_spans("prepare"), groups).shuffle_write_bytes / MB

    out = traced["out"]
    pr_steps = out.get("pagerank_step_s") or []
    if pr_steps:
        pr = _stats(inclusive("pagerank", "pagerank.resume"), groups)
        v["pagerank.step_p50_s"] = statistics.median(pr_steps)
        v["pagerank.step_p90_s"] = float(np.percentile(pr_steps, 90))
        v["pagerank.jobs_per_step"] = len(pr.jobs) / len(pr_steps)
        v["pagerank.shuffle_mb_per_step"] = pr.shuffle_write_bytes / MB / len(pr_steps)
        v["resume.wall_s"] = sum(sp.wall_s for sp in layer_spans("pagerank.resume"))
    lpa_steps = out.get("lpa_step_s") or []
    if lpa_steps:
        lpa = _stats(inclusive("lpa"), groups)
        v["lpa.step_p50_s"] = statistics.median(lpa_steps)
        v["lpa.jobs_per_step"] = len(lpa.jobs) / len(lpa_steps)
        v["lpa.shuffle_mb_per_step"] = lpa.shuffle_write_bytes / MB / len(lpa_steps)

    for layer, keys in {
        "coarsen.lp": ("wall_s", "jobs", "tasks"),
        "coarsen.contract": ("wall_s", "jobs"),
        "initial.collect": ("wall_s",),
        "initial.bisect": ("wall_s",),
        "uncoarsen.refine_lp": ("wall_s", "jobs"),
        "uncoarsen.extend": ("wall_s", "tasks"),
        "uncoarsen.balance": ("wall_s", "jobs"),
        "metrics.quality": ("wall_s",),
    }.items():
        st = _stats(layer_spans(layer), groups)
        for key in keys:
            v[f"{layer}.{key}"] = {
                "wall_s": wall(layer), "jobs": len(st.jobs), "tasks": st.tasks
            }[key]
    v["uncoarsen.balance.calls"] = sum(
        1 for sp in layer_spans("uncoarsen.balance") if not sp.name.endswith("/materialize")
    )
    v["partition.cut"] = traced["measured"].get("partition_cut", 0)
    v["initial.collect.rows"] = sum(sp.attrs.get("rows", 0) for sp in layer_spans("initial.collect"))
    levels = [lv for lv in traced["measured"].get("levels", []) if lv["stage"] == "coarsen"]
    if levels:
        v["coarsen.levels"] = len(levels)
        n0 = traced["measured"]["n"]
        v["coarsen.shrink"] = (levels[-1]["n"] / n0) ** (1.0 / len(levels))

    materialize = [sp for sp in in_pass if sp.name.endswith("/materialize") or sp.name == "lineage.truncate"]
    v["truncate.calls"] = len(materialize)
    v["truncate.wall_s"] = sum(sp.wall_s for sp in materialize)
    v["live_checkpoint_rdds"] = traced["live_checkpoint_rdds"]
    v["snapshot.write_s"] = sum(sp.wall_s for sp in layer_spans("snapshot.write"))
    v["snapshot.read_s"] = sum(sp.wall_s for sp in layer_spans("snapshot.read"))
    v["snapshot.bytes"] = traced["measured"].get("snapshot_bytes", 0)

    total = _stats(in_pass, groups)
    v["jobs"], v["stages"], v["tasks"] = len(total.jobs), len(total.stages), total.tasks
    v["task_s"], v["gc_s"] = total.task_s, total.gc_s
    v["shuffle_read_mb"] = total.shuffle_read_bytes / MB
    v["shuffle_write_mb"] = total.shuffle_write_bytes / MB
    v["driver_py_cpu_s"] = traced["driver_py_cpu_s"]
    v["jvm_cpu_s"] = traced["jvm_cpu_s"]
    v["worker_py_cpu_s"] = traced["worker_py_cpu_s"]
    v["core_busy_frac"] = total.task_s / (root.wall_s * nproc)
    v["trace.coverage"] = tracer.coverage(root.start, root.end, [s for s in in_pass if s is not root])
    v["trace.overhead"] = root.wall_s / (root.wall_s - traced["tracer_s"])

    layers = {}
    for layer, rec in tracer.layers(in_pass).items():
        st = _stats(rec.pop("spans"), groups)
        rec.update(
            jobs=len(st.jobs), stages=len(st.stages), tasks=st.tasks, task_s=st.task_s,
            shuffle_write_mb=st.shuffle_write_bytes / MB,
        )
        layers[layer] = rec
    report = {
        "traced_wall_s": root.wall_s,
        "tracer_s": traced["tracer_s"],
        "layers_by_self_s": dict(sorted(layers.items(), key=lambda kv: -kv[1]["self_s"])),
        "setup_layers": {
            name: {"wall_s": wall(name), "jobs": len(_stats(layer_spans(name), groups).jobs)}
            for name in ("etl", "prepare")
        },
    }
    return {k: (float(val), PER_LAYER[k]) for k, val in v.items()}, report
