"""Partition-quality comparison: deep multilevel extension vs rb-at-coarsest
(VERDICT r1 item 5, extended per VERDICT r2 item 6) on the transcript-derived
graph.

Runs Partitioner(scheme="deep") and Partitioner(scheme="rb") over a grid of
(sf_dir, k) cells and writes a markdown table with edge-cut, imbalance, and
feasibility to BENCH/PARTITION_QUALITY.md. Non-power-of-2 k exercises the
final_k/split_integral extension bookkeeping.

Usage: python scripts/partition_quality.py [--seeds 42] [sf_dir:k1,k2 ...]
Default grid: sf0.01:6,8,16 sf0.1:16,64. Spark runs local[$SPARK_GRAFT_CPUS]
(default: the CPUs this process may use) with as many shuffle partitions.

With more than one seed (--seeds 42,7,1234) the script runs the
replication-value protocol instead (VERDICT r4 item 5): deep vs deep+rep4
only, per-seed rows, and a wins/ties/losses verdict for the eps-flavored
replica tree, written to BENCH/PARTITION_QUALITY_SEEDS.md (the single-seed
grid file is left untouched).
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="42")
    ap.add_argument("grid", nargs="*")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    seed_mode = len(seeds) > 1
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
        g.nodes.persist()
        g.edges.persist()
        sf = os.path.basename(sf_dir.rstrip("/"))
        sizes[sf] = (g.num_nodes(), g.num_half_edges())
        for k in ks:
            # deep+rep4 = deep schedule with the E9 split-and-join replica
            # tree armed at 4 threads inside every coarsest-graph bisection
            # (mid-coarsening coarsener forks, eps-flavored leaves, best-of
            # joins); deep/rb run the single sequential chain (rep = 1).
            schemes = (
                (("deep", 1), ("deep", 4))
                if seed_mode
                else (("deep", 1), ("deep", 4), ("rb", 1))
            )
            for seed in seeds:
                for scheme, rep in schemes:
                    t0 = time.time()
                    res = Partitioner(
                        g, spark, contraction_limit=400, seed=seed, scheme=scheme,
                        ip_replication_threads=rep,
                    ).partition(k, epsilon=0.03)
                    wall = time.time() - t0
                    rows.append(
                        {
                            "sf": sf,
                            "k": k,
                            "seed": seed,
                            "scheme": scheme if rep == 1 else f"{scheme}+rep{rep}",
                            "cut": res.cut,
                            "imbalance": round(res.imbalance, 4),
                            "feasible": res.feasible,
                            "wall_sec": round(wall, 1),
                        }
                    )
                    print(rows[-1], flush=True)
        g.nodes.unpersist()
        g.edges.unpersist()

    if seed_mode:
        write_seed_report(rows, sizes)
        return

    size_lines = [
        f"{sf}: {n:,} nodes, {m:,} half-edges" for sf, (n, m) in sizes.items()
    ]
    md = [
        "# Partition quality: deep multilevel extension vs rb-at-coarsest",
        "",
        "Transcript graphs (" + "; ".join(size_lines) + "),",
        "contraction_limit=400, epsilon=0.03, seed=42. `deep` bisects the",
        "coarsest graph to k'=2^ceil(log2(n/C)) and extends per uncoarsening",
        "level with refinement at every intermediate k (the reference's deep",
        "multilevel schedule, with per-block final_k/split_integral extension",
        "bookkeeping — k=6 exercises the non-power-of-2 path); `deep+rep4`",
        "additionally arms the E9 split-and-join replica tree (4 threads:",
        "mid-coarsening coarsener forks, best-of per join) inside every",
        "coarsest-graph bisection; `rb` bisects to",
        "the final k at the coarsest graph (round-1 behavior).",
        "",
        "| sf | k | scheme | edge cut | imbalance | feasible | wall (s) |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['sf']} | {r['k']} | {r['scheme']} | {r['cut']:,} | {r['imbalance']} "
            f"| {r['feasible']} | {r['wall_sec']} |"
        )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PARTITION_QUALITY.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))


def write_seed_report(rows, sizes):
    """wins/ties/losses of deep+rep4 vs deep per (sf, k, seed) cell, scored
    the way select_best scores — feasibility first, then cut."""
    cells = {}
    for r in rows:
        cells.setdefault((r["sf"], r["k"], r["seed"]), {})[r["scheme"]] = r
    wins = ties = losses = 0
    lines = [
        "# Replication value across seeds (deep vs deep+rep4)",
        "",
        "Protocol (VERDICT r4 item 5): same grid cells at several seeds;",
        "`deep+rep4` arms the E9 split-and-join replica tree with",
        "EPS-FLAVORED leaves (each non-chain replica bipartitions under a",
        "perturbed balance constraint, scored against the true caps at every",
        "join — plans/initial.py _REPLICA_EPS_FLAVORS). The never-worse",
        "guard still scores the plain chain, so a cell can tie but not",
        "regress on the (feasible, cut) ordering.",
        "",
        "Graphs: " + "; ".join(f"{sf}: {n:,} nodes, {m:,} half-edges" for sf, (n, m) in sizes.items()),
        "",
        "| sf | k | seed | scheme | edge cut | imbalance | feasible | wall (s) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for (sf, k, seed), by in sorted(cells.items()):
        for scheme in ("deep", "deep+rep4"):
            r = by[scheme]
            lines.append(
                f"| {sf} | {k} | {seed} | {scheme} | {r['cut']:,} | {r['imbalance']} "
                f"| {r['feasible']} | {r['wall_sec']} |"
            )
        d, p = by["deep"], by["deep+rep4"]
        ds, ps = (not d["feasible"], d["cut"]), (not p["feasible"], p["cut"])
        if ps < ds:
            wins += 1
        elif ps == ds:
            ties += 1
        else:
            losses += 1
    lines += [
        "",
        f"**deep+rep4 vs deep on (feasible, cut): {wins} win(s), {ties} tie(s), "
        f"{losses} loss(es) over {wins + ties + losses} cells.**",
    ]
    out = os.path.join(REPO, "BENCH", "PARTITION_QUALITY_SEEDS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
