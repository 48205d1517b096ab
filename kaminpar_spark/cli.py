"""spark-submit entrypoint (reference analog: apps/kaminpar.cc CLI surface).

Usage (sandbox / cluster):
    spark-submit --py-files kaminpar_spark.zip -m kaminpar_spark.cli \\
        partition -G /data/edges.parquet -k 8 --epsilon 0.03 \\
        --save-partition /out/partition
    ... pagerank|components|labelprop|triangles|stats with the same -G input

-G accepts a parquet edge table (src,dst[,weight]), a METIS .graph file, or
a SNAP .txt edge list (format by extension). Prints a RESULT line like the
reference (apps/kaminpar.cc:45-69).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def load_graph(spark, path: str, symmetrize: bool):
    from kaminpar_spark.graph import GraphFrame
    from kaminpar_spark.sources.metis import read_metis
    from kaminpar_spark.sources.snap import read_snap

    if path.startswith(("gnm:", "rgg2d:", "ws:")):
        # synthetic input, e.g. -G gnm:n=1000000,m=10000000,seed=1 — the
        # generator runs distributed, no file round-trip (sources.generators)
        from kaminpar_spark.sources import generators

        kind, spec = path.split(":", 1)
        kw = {k: (float(v) if "." in v else int(v)) for k, v in
              (item.split("=") for item in spec.split(","))}
        fn = {"gnm": "gnm_random", "rgg2d": "rgg2d", "ws": "watts_strogatz"}[kind]
        return getattr(generators, fn)(spark, **kw)
    if path.endswith(".graph"):
        return read_metis(spark, path)
    if path.endswith(".mtx"):
        from kaminpar_spark.sources.matrix_market import read_matrix_market

        return read_matrix_market(spark, path)
    if path.endswith(".kagen"):
        from kaminpar_spark.sources.kagen import read_kagen

        return read_kagen(spark, path)
    if path.endswith((".txt", ".tsv")):
        return read_snap(spark, path)
    edges = spark.read.parquet(path)
    return GraphFrame.from_edge_pairs(edges, symmetrize=symmetrize)


def main(argv=None):
    ap = argparse.ArgumentParser(prog="kaminpar-spark")
    ap.add_argument("command", choices=["partition", "pagerank", "ppr", "components", "labelprop", "triangles", "kcore", "stats", "bfs", "diameter", "color", "mis", "walks", "match", "hits", "msf", "truss", "anf", "wl", "ebc", "cascade", "landmark", "tmotifs", "cpm", "robustness", "vcut", "onion", "sample", "reorder", "leiden", "ties", "nullmodel", "bm25", "dsir", "semdedup", "bpe"])
    ap.add_argument("--query", default=None,
                    help="[bm25] query string; repeatable via ';' separation")
    ap.add_argument("--target-source", default=None, dest="target_source",
                    help="[dsir] documents.source value defining the target slice")
    ap.add_argument("--threshold", type=float, default=0.95,
                    help="[semdedup] cosine duplicate threshold")
    ap.add_argument("--rounds", type=int, default=16,
                    help="[bpe] number of merge rounds to learn")
    ap.add_argument("--sources", default="0", help="[ppr] comma-separated teleport node ids")
    ap.add_argument("-G", "--graph", required=True)
    ap.add_argument("-k", type=int, default=2)
    ap.add_argument("--epsilon", type=float, default=0.03)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--threads", type=int, default=None, help="local[N] cores")
    ap.add_argument("--save-partition", "--save", dest="save", default=None)
    ap.add_argument("--workdir", default="/tmp/kaminpar_spark_work")
    ap.add_argument("--max-iters", type=int, default=50)
    ap.add_argument("--warm", default=None,
                    help="[pagerank|components] parquet of a previous snapshot's "
                         "result ((id, rank) / (id, comp)) to warm-start from")
    ap.add_argument("--no-symmetrize", action="store_true")
    ap.add_argument("--contraction-limit", type=int, default=2000)
    ap.add_argument("--scheme", choices=["deep", "rb"], default="deep",
                    help="deep multilevel (extend per level) or rb-at-coarsest")
    # reference coarsening knobs (arguments.h:11-35)
    ap.add_argument("--c-lp-num-iterations", type=int, default=5, dest="lp_iters")
    ap.add_argument("--c-lp-max-num-neighbors", type=int, default=None,
                    dest="max_num_neighbors",
                    help="rate at most this many neighbors per node during coarsening LP")
    ap.add_argument("--c-lp-large-degree-threshold", type=int, default=None,
                    dest="large_degree_threshold",
                    help="nodes above this degree are not rated during coarsening")
    ap.add_argument("--c-convergence-threshold", type=float, default=0.05,
                    dest="convergence_threshold",
                    help="stop coarsening when a level shrinks less than this factor")
    ap.add_argument("--c-cluster-weight-limit", default="epsilon-block-weight",
                    choices=["epsilon-block-weight", "block-weight", "one", "zero"],
                    dest="cluster_weight_limit")
    ap.add_argument("--c-cluster-weight-multiplier", type=float, default=1.0,
                    dest="cluster_weight_multiplier")
    ap.add_argument("--degree-weight", action="store_true",
                    help="use node degree as node weight, ignore input weights")
    args = ap.parse_args(argv)

    from kaminpar_spark.session import get_spark

    spark = get_spark("kaminpar_spark_cli", cores=args.threads)

    if args.command in ("bm25", "dsir", "semdedup", "bpe"):
        # corpus commands: -G is a parquet table (documents / embeddings),
        # not an edge list
        from pyspark.sql import functions as F

        t0 = time.time()
        tab = spark.read.parquet(args.graph)
        if args.command == "bm25":
            from kaminpar_spark.functions.text import bm25_topk

            qs = [
                (i + 1, q.strip())
                for i, q in enumerate((args.query or "").split(";"))
                if q.strip()
            ]
            if not qs:
                ap.error("bm25 requires --query 'terms...' (';'-separated)")
            qdf = spark.createDataFrame(qs, "query_id long, qtext string")
            out = bm25_topk(tab, qdf, k=max(args.k, 1))
            if args.save:
                out.write.mode("overwrite").parquet(args.save)
            rows = out.orderBy("query_id", F.desc("score")).collect()
            print(
                "RESULT "
                + json.dumps(
                    {
                        str(q): [(r["doc_id"], r["score"]) for r in rows if r["query_id"] == q]
                        for q, _ in qs
                    }
                )
                + f" time={time.time()-t0:.3f}s"
            )
        elif args.command == "dsir":
            from kaminpar_spark.functions.text import dsir_weights

            if not args.target_source:
                ap.error("dsir requires --target-source <documents.source value>")
            out = dsir_weights(tab, tab.where(F.col("source") == args.target_source))
            if args.save:
                out.write.mode("overwrite").parquet(args.save)
            agg = out.agg(
                F.count("*").alias("n"),
                F.min("weight").alias("lo"),
                F.max("weight").alias("hi"),
            ).first()
            print(
                f"RESULT docs={agg['n']} weight=[{agg['lo']},{agg['hi']}] "
                f"time={time.time()-t0:.3f}s"
            )
        elif args.command == "bpe":
            from kaminpar_spark.functions.bpe import bpe_learn

            out = bpe_learn(tab, rounds=max(args.rounds, 1))
            if args.save:
                out.write.mode("overwrite").parquet(args.save)
            rows = out.orderBy("merge_round").collect()
            print(
                "RESULT "
                + json.dumps(
                    [
                        [r["merge_round"], r["merge_left"], r["merge_right"],
                         r["pair_count"], r["tokens_after"]]
                        for r in rows
                    ]
                )
                + f" time={time.time()-t0:.3f}s"
            )
        else:
            from kaminpar_spark.functions.similarity import semdedup

            out = semdedup(tab, k=max(args.k, 2), threshold=args.threshold)
            if args.save:
                out.write.mode("overwrite").parquet(args.save)
            kept = out.where(F.col("keep")).count()
            total = out.count()
            print(
                f"RESULT kept={kept} pruned={total - kept} total={total} "
                f"time={time.time()-t0:.3f}s"
            )
        return 0

    g = load_graph(spark, args.graph, symmetrize=not args.no_symmetrize)
    if args.degree_weight:
        from pyspark.sql import functions as F

        from kaminpar_spark.graph import GraphFrame

        deg = g.degrees().select("id", F.col("degree").alias("weight"))
        g = GraphFrame(edges=g.edges, nodes=deg)
    t0 = time.time()

    if args.command == "partition":
        from kaminpar_spark.plans.partitioner import Partitioner

        res = Partitioner(
            g, spark, contraction_limit=args.contraction_limit, seed=args.seed,
            scheme=args.scheme, lp_iters=args.lp_iters,
            max_num_neighbors=args.max_num_neighbors,
            large_degree_threshold=args.large_degree_threshold,
            convergence_threshold=args.convergence_threshold,
            cluster_weight_limit=args.cluster_weight_limit,
            cluster_weight_multiplier=args.cluster_weight_multiplier,
        ).partition(args.k, args.epsilon)
        if args.save:
            res.partition.write.mode("overwrite").parquet(args.save)
        print(
            f"RESULT cut={res.cut} imbalance={res.imbalance:.6f} "
            f"feasible={int(res.feasible)} k={res.k} time={time.time()-t0:.3f}s"
        )
    elif args.command == "pagerank":
        from kaminpar_spark.operators.pagerank import pagerank
        from kaminpar_spark.plans.superstep import SuperstepRunner

        runner = SuperstepRunner(spark, args.workdir)
        warm = spark.read.parquet(args.warm).select("id", "rank") if args.warm else None
        pr = pagerank(g, max_iters=args.max_iters, runner=runner, warm_start=warm)
        if args.save:
            pr.write.mode("overwrite").parquet(args.save)
        top = pr.orderBy("rank", ascending=False).limit(5).collect()
        print(f"RESULT top5={[(r['id'], round(r['rank'], 6)) for r in top]} time={time.time()-t0:.3f}s")
    elif args.command == "ppr":
        from kaminpar_spark.operators.pagerank import personalized_pagerank

        srcs = [int(x) for x in args.sources.split(",")]
        pr = personalized_pagerank(g, srcs, max_iters=args.max_iters)
        if args.save:
            pr.write.mode("overwrite").parquet(args.save)
        top = pr.orderBy("rank", ascending=False).limit(5).collect()
        print(f"RESULT top5={[(r['id'], round(r['rank'], 6)) for r in top]} time={time.time()-t0:.3f}s")
    elif args.command == "components":
        from kaminpar_spark.operators.components import connected_components

        init = spark.read.parquet(args.warm).select("id", "comp") if args.warm else None
        cc = connected_components(g, max_iters=args.max_iters, init_labels=init)
        n_comp = cc.select("comp").distinct().count()
        if args.save:
            cc.write.mode("overwrite").parquet(args.save)
        print(f"RESULT n_components={n_comp} time={time.time()-t0:.3f}s")
    elif args.command == "labelprop":
        from kaminpar_spark.operators.labelprop import label_propagation

        labels = label_propagation(g, max_iters=args.max_iters)
        n_comm = labels.select("label").distinct().count()
        if args.save:
            labels.write.mode("overwrite").parquet(args.save)
        from kaminpar_spark.operators.metrics import modularity

        q = modularity(g, labels)
        print(f"RESULT n_communities={n_comm} modularity={q:.6f} time={time.time()-t0:.3f}s")
    elif args.command == "kcore":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.kcore import core_numbers

        cores_df = core_numbers(g)
        if args.save:
            cores_df.write.mode("overwrite").parquet(args.save)
        degeneracy = cores_df.agg(F.max("core")).first()[0]
        print(f"RESULT degeneracy={degeneracy} time={time.time()-t0:.3f}s")
    elif args.command == "triangles":
        from kaminpar_spark.operators.triangles import triangle_count

        n = triangle_count(g)
        print(f"RESULT triangles={n} time={time.time()-t0:.3f}s")
    elif args.command == "bfs":
        from kaminpar_spark.operators.paths import bfs_levels

        srcs = [int(x) for x in args.sources.split(",")]
        d = bfs_levels(g, srcs, max_hops=args.max_iters)
        if args.save:
            d.write.mode("overwrite").parquet(args.save)
        print(f"RESULT reached={d.count()} time={time.time()-t0:.3f}s")
    elif args.command == "diameter":
        from kaminpar_spark.operators.paths import double_sweep_diameter

        row = double_sweep_diameter(
            g, start=int(args.sources.split(",")[0]), max_hops=args.max_iters
        ).collect()[0]
        print(
            f"RESULT peripheral={row['peripheral']} diameter_lb={row['diameter_lb']} "
            f"time={time.time()-t0:.3f}s"
        )
    elif args.command == "color":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.coloring import color_to_completion

        colors = color_to_completion(g, max_rounds=args.max_iters)
        if args.save:
            colors.write.mode("overwrite").parquet(args.save)
        n_colors = colors.agg(F.countDistinct("color")).first()[0]
        print(f"RESULT n_colors={n_colors} time={time.time()-t0:.3f}s")
    elif args.command == "mis":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.coloring import luby_mis

        st = luby_mis(g, rounds=args.max_iters)
        if args.save:
            st.write.mode("overwrite").parquet(args.save)
        n_in = st.where(F.col("st") == 1).count()
        n_und = st.where(F.col("st") == 0).count()
        print(f"RESULT mis_size={n_in} undecided={n_und} time={time.time()-t0:.3f}s")
    elif args.command == "walks":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.walks import deterministic_walks

        starts = g.nodes.where(F.col("id") % 29 == 0).select("id")
        w = deterministic_walks(g, starts, walk_len=args.max_iters)
        if args.save:
            w.write.mode("overwrite").parquet(args.save)
        print(f"RESULT walk_rows={w.count()} time={time.time()-t0:.3f}s")
    elif args.command == "match":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.matching import heavy_edge_matching

        st = heavy_edge_matching(g, rounds=args.max_iters)
        if args.save:
            st.write.mode("overwrite").parquet(args.save)
        n_pairs = st.where(F.col("mate").isNotNull()).count() // 2
        n_un = st.where(F.col("mate").isNull()).count()
        print(f"RESULT matched_pairs={n_pairs} unmatched={n_un} time={time.time()-t0:.3f}s")
    elif args.command == "hits":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.hits import hits

        # HITS is direction-sensitive: pass --no-symmetrize to analyze the
        # edge list as given; on a symmetrized graph hub == auth by identity
        st = hits(g.edges.select("src", "dst", "weight"), iters=args.max_iters)
        if args.save:
            st.write.mode("overwrite").parquet(args.save)
        top = st.orderBy(F.desc("hub"), "id").first()
        print(f"RESULT top_hub={top['id']} hub={top['hub']} auth={top['auth']} time={time.time()-t0:.3f}s")
    elif args.command == "msf":
        from kaminpar_spark.operators.mst import boruvka_msf, msf_total_weight

        msf, _comp = boruvka_msf(g, max_rounds=args.max_iters)
        if args.save:
            msf.write.mode("overwrite").parquet(args.save)
        w = msf_total_weight(msf)
        print(f"RESULT msf_edges={msf.count()} total_weight={w} time={time.time()-t0:.3f}s")
    elif args.command == "truss":
        from kaminpar_spark.operators.truss import k_truss

        # -k doubles as the truss order (default 2 = the full edge set)
        tk = max(args.k, 3)
        edges = k_truss(g, tk, max_rounds=args.max_iters)
        if args.save:
            edges.write.mode("overwrite").parquet(args.save)
        print(f"RESULT k={tk} truss_edges={edges.count()} time={time.time()-t0:.3f}s")
    elif args.command == "anf":
        from kaminpar_spark.operators.anf import hop_plot

        rows = hop_plot(g, max_t=min(args.max_iters, 8)).collect()
        plot = [(r["t"], r["total_r"]) for r in sorted(rows, key=lambda r: r["t"])]
        print(f"RESULT hop_plot={plot} time={time.time()-t0:.3f}s")
    elif args.command == "wl":
        from kaminpar_spark.operators.wl import wl_refine

        rounds = min(args.max_iters, 8)
        labels = wl_refine(g, rounds=rounds)
        if args.save:
            labels.write.mode("overwrite").parquet(args.save)
        n_classes = labels.select("wl").distinct().count()
        print(f"RESULT wl_rounds={rounds} classes={n_classes} time={time.time()-t0:.3f}s")
    elif args.command == "ebc":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.centrality import brandes_edge_centrality

        srcs = g.nodes.where(F.col("id") % 100 == 0).select("id")
        ebc = brandes_edge_centrality(g, srcs, max_hops=min(args.max_iters, 8))
        if args.save:
            ebc.write.mode("overwrite").parquet(args.save)
        top = ebc.orderBy(F.desc("e_stress")).first()
        print(
            f"RESULT edges={ebc.count()} top_edge=({top['a']},{top['b']}) "
            f"top_stress={top['e_stress']} time={time.time()-t0:.3f}s"
        )
    elif args.command == "cascade":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.cascade import threshold_cascade

        # --sources gives the seed ids; -k is the activation threshold
        seeds = [int(x) for x in args.sources.split(",")]
        act = threshold_cascade(g, seeds, k=max(args.k, 1), rounds=args.max_iters)
        if args.save:
            act.write.mode("overwrite").parquet(args.save)
        per_round = {
            r["round"]: r["n"]
            for r in act.groupBy("round").agg(F.count("*").alias("n")).collect()
        }
        print(
            f"RESULT activated={sum(per_round.values())} "
            f"rounds={json.dumps(per_round, sort_keys=True)} time={time.time()-t0:.3f}s"
        )
    elif args.command == "landmark":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.paths import multi_source_distances

        # -k doubles as the landmark count; index = one shared multi-source BFS
        lms = (
            g.degrees()
            .orderBy(F.desc("degree"), F.asc("id"))
            .limit(max(args.k, 1))
            .select("id")
        )
        lmd = multi_source_distances(g, lms, max_hops=args.max_iters)
        if args.save:
            lmd.write.mode("overwrite").parquet(args.save)
        covered = lmd.where(F.col("dist").isNotNull()).select("id").distinct().count()
        print(
            f"RESULT landmarks={max(args.k, 1)} index_rows={lmd.count()} "
            f"covered_nodes={covered} time={time.time()-t0:.3f}s"
        )
    elif args.command == "tmotifs":
        from kaminpar_spark.operators.temporal import temporal_triangles

        # requires a parquet input carrying (src, dst, ts); --max-iters is δ
        tedges = spark.read.parquet(args.graph).select("src", "dst", "ts")
        row = temporal_triangles(tedges, deltas=(args.max_iters,)).collect()[0]
        print(
            f"RESULT tri_d{args.max_iters}={row[f'tri_d{args.max_iters}']} "
            f"time={time.time()-t0:.3f}s"
        )
    elif args.command == "cpm":
        from kaminpar_spark.operators.triangles import triangle_communities

        tc = triangle_communities(g, max_iters=args.max_iters)
        if args.save:
            tc.write.mode("overwrite").parquet(args.save)
        from pyspark.sql import functions as F

        n_comm = tc.agg(F.countDistinct("community")).first()[0]
        print(
            f"RESULT triangle_edges={tc.count()} communities={n_comm} "
            f"time={time.time()-t0:.3f}s"
        )
    elif args.command == "robustness":
        from pyspark.sql import functions as F

        from kaminpar_spark.graph import GraphFrame
        from kaminpar_spark.operators.components import connected_components

        deg = g.degrees().select("id", "degree")
        for k in [0, args.k]:
            if k == 0:
                sub = g
            else:
                hubs = deg.orderBy(F.desc("degree"), F.asc("id")).limit(k).select("id")
                e = (
                    g.edges.join(hubs.withColumnRenamed("id", "src"), "src", "left_anti")
                    .join(hubs.withColumnRenamed("id", "dst"), "dst", "left_anti")
                )
                sub = GraphFrame(edges=e, nodes=g.nodes.join(hubs, "id", "left_anti"))
            cc = connected_components(sub, max_iters=args.max_iters)
            giant = (
                cc.groupBy("comp").agg(F.count("*").alias("sz"))
                .agg(F.max("sz")).first()[0]
            )
            print(f"RESULT k_removed={k} giant={giant} time={time.time()-t0:.3f}s")
    elif args.command == "vcut":
        from kaminpar_spark.plans.edge_partition import edge_partition_eval

        rows = edge_partition_eval(g, k=max(args.k, 4)).collect()
        for r in sorted(rows, key=lambda r: r["replication"]):
            print(
                f"RESULT strategy={r['strategy']} replication={r['replication']} "
                f"imbalance={r['imbalance']} max_load={r['max_load']} "
                f"time={time.time()-t0:.3f}s"
            )
    elif args.command == "onion":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.kcore import onion_layers

        layers = onion_layers(g, rounds=args.max_iters)
        if args.save:
            layers.write.mode("overwrite").parquet(args.save)
        prof = {
            r["layer"]: (r["n"], r["core"])
            for r in layers.groupBy("layer")
            .agg(F.count("*").alias("n"), F.max("core").alias("core"))
            .collect()
        }
        print(f"RESULT layers={json.dumps({k: v for k, v in sorted(prof.items())})} time={time.time()-t0:.3f}s")
    elif args.command == "sample":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.gnn import sage_sample

        # --sources gives the root modulus (roots = id % mod == 0); -k is fanout
        mod = max(int(args.sources.split(",")[0]), 1)
        roots = g.nodes.where(F.col("id") % mod == 0).select("id")
        blk = sage_sample(g, roots, fanouts=(max(args.k, 1), max(args.k // 2, 1)))
        if args.save:
            blk.write.mode("overwrite").parquet(args.save)
        per = {r["layer"]: r["n"] for r in blk.groupBy("layer").agg(F.count("*").alias("n")).collect()}
        print(f"RESULT sampled={json.dumps(per, sort_keys=True)} time={time.time()-t0:.3f}s")
    elif args.command == "reorder":
        from kaminpar_spark.operators.reorder import ordering_comparison

        rows = ordering_comparison(g, bfs_hops=args.max_iters).collect()
        for r in sorted(rows, key=lambda r: r["profile_sum"]):
            print(
                f"RESULT ordering={r['ordering']} bandwidth={r['bandwidth']} "
                f"profile={r['profile_sum']} mean_span={r['mean_span']} "
                f"time={time.time()-t0:.3f}s"
            )
    elif args.command == "stats":
        from dataclasses import asdict

        from kaminpar_spark.operators.stats import graph_stats

        print("RESULT " + json.dumps(asdict(graph_stats(g))))
    elif args.command == "leiden":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.louvain import louvain_level, refine_disconnected

        labels = louvain_level(g, g.total_edge_weight(), rounds=min(args.max_iters, 4))
        refined = refine_disconnected(g, labels)
        if args.save:
            refined.write.mode("overwrite").parquet(args.save)
        agg = (
            refined.groupBy("comm")
            .agg(F.countDistinct("refined").alias("k"))
            .agg(
                F.count("*").alias("comms"),
                F.sum((F.col("k") > 1).cast("long")).alias("split"),
                F.sum("k").alias("pieces"),
            )
            .first()
        )
        print(
            f"RESULT comms={agg['comms']} disconnected={agg['split']} "
            f"pieces={agg['pieces']} time={time.time()-t0:.3f}s"
        )
    elif args.command == "ties":
        from pyspark.sql import functions as F

        from kaminpar_spark.operators.truss import canonical_edges, edge_support

        sup = edge_support(canonical_edges(g))
        if args.save:
            sup.write.mode("overwrite").parquet(args.save)
        agg = sup.agg(
            F.count("*").alias("edges"),
            F.sum((F.col("support") == 0).cast("long")).alias("local_bridges"),
            F.min("support").alias("min_sup"),
            F.max("support").alias("max_sup"),
        ).first()
        print(
            f"RESULT edges={agg['edges']} local_bridges={agg['local_bridges']} "
            f"support=[{agg['min_sup']},{agg['max_sup']}] time={time.time()-t0:.3f}s"
        )
    elif args.command == "nullmodel":
        from kaminpar_spark.operators.stats import null_model_stats

        r = null_model_stats(g).first()
        print(
            "RESULT "
            + json.dumps({k: r[k] for k in r.asDict()})
            + f" time={time.time()-t0:.3f}s"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
