"""Partition-quality grid on the transcript-derived graph: the deep
multilevel extension vs rb-at-coarsest (VERDICT r1 item 5, extended per
VERDICT r2 item 6), and the LP clustering coarsener vs heavy-edge matching.

Runs three Partitioner configurations over a grid of (sf_dir, k) cells and
writes a markdown table with Spark coarsening levels, edge-cut, imbalance and
feasibility to BENCH/PARTITION_QUALITY.md:

- ``deep``: scheme="deep", coarsener="lp" (the defaults);
- ``rb``: scheme="rb", coarsener="lp";
- ``deep+hem``: scheme="deep", coarsener="hem".

Non-power-of-2 k exercises the final_k/split_integral extension bookkeeping.

Usage: python scripts/partition_quality.py [sf_dir:k1,k2 ...]
Default grid: sf0.01:6,8,16 sf0.1:16,64. Spark runs local[$SPARK_GRAFT_CPUS]
(default: the CPUs this process may use) with as many shuffle partitions.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_GRID = [
    ("/root/testdata/sf0.01", [6, 8, 16]),
    ("/root/testdata/sf0.1", [16, 64]),
]

CONFIGS = (  # (row name, scheme, coarsener)
    ("deep", "deep", "lp"),
    ("rb", "rb", "lp"),
    ("deep+hem", "deep", "hem"),
)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("grid", nargs="*")
    args = ap.parse_args()
    if args.grid:
        grid = []
        for spec in args.grid:
            sf_dir, ks = spec.split(":")
            grid.append((sf_dir, [int(k) for k in ks.split(",")]))
    else:
        grid = DEFAULT_GRID

    from kaminpar_spark.plans.partitioner import Partitioner
    from kaminpar_spark.session import get_spark
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark("partition_quality", cores=cpus, shuffle_partitions=cpus)
    rows = []
    sizes = {}
    for sf_dir, ks in grid:
        n_convs = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
        t = synth_transcripts(spark, n_convs)
        g, _ = transcript_graph(t, n_convs, stable_ids=False, num_partitions=cpus)
        g = g.prepare(num_partitions=cpus, spark=spark)
        sf = os.path.basename(sf_dir.rstrip("/"))
        sizes[sf] = (g.num_nodes(), g.num_half_edges())
        for k in ks:
            for name, scheme, coarsener in CONFIGS:
                t0 = time.time()
                res = Partitioner(
                    g, spark, contraction_limit=400, seed=42, scheme=scheme,
                    coarsener=coarsener,
                ).partition(k, epsilon=0.03)
                wall = time.time() - t0
                rows.append(
                    {
                        "sf": sf,
                        "k": k,
                        "config": name,
                        "levels": sum(1 for l in res.levels if l["stage"] == "coarsen"),
                        "cut": res.cut,
                        "imbalance": round(res.imbalance, 4),
                        "feasible": res.feasible,
                        "wall_sec": round(wall, 1),
                    }
                )
                print(rows[-1], flush=True)
        g.unpersist()

    size_lines = [
        f"{sf}: {n:,} nodes, {m:,} half-edges" for sf, (n, m) in sizes.items()
    ]
    md = [
        "# Partition quality: deep vs rb, LP clustering vs heavy-edge matching",
        "",
        "Transcript graphs (" + "; ".join(size_lines) + "),",
        "contraction_limit=400, epsilon=0.03, seed=42. `deep` bisects the",
        "coarsest graph to k'=2^ceil(log2(n/C)) and extends per uncoarsening",
        "level with refinement at every intermediate k (the reference's deep",
        "multilevel schedule, with per-block final_k/split_integral extension",
        "bookkeeping — k=6 exercises the non-power-of-2 path); `rb` bisects to",
        "the final k at the coarsest graph (round-1 behavior); `deep+hem` is",
        "`deep` with the METIS-family heavy-edge matching coarsener",
        "(operators/matching.py) in place of the reference's size-constrained",
        "LP clustering. The coarsener and the scheme shape only the Spark",
        "levels (a level above `Partitioner.IN_MEMORY_HALF_EDGES`); the",
        "`Spark levels` column counts the coarsening levels that ran in Spark.",
        "",
        "| sf | k | config | Spark levels | edge cut | imbalance | feasible | wall (s) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['sf']} | {r['k']} | {r['config']} | {r['levels']} | {r['cut']:,} "
            f"| {r['imbalance']} | {r['feasible']} | {r['wall_sec']} |"
        )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PARTITION_QUALITY.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))


if __name__ == "__main__":
    main()
