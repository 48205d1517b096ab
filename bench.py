"""Bench harness (driver contract): headline queries at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric (BASELINE.json): edges processed/sec per superstep for
PageRank + LPA to convergence on the transcript-derived edge table —
total_half_edges * supersteps / wall_sec. Per-query wall times are also
reported. The scaling protocol (N vs 4N cores) does not run this file:
scripts/scale.py times the kernels alone over a pre-built input, one fresh
Spark process per core count, and writes BENCH/<KERNEL>_SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _phase(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    pr_iters = int(os.environ.get("SPARK_GRAFT_PR_ITERS", "10"))
    lpa_iters = int(os.environ.get("SPARK_GRAFT_LPA_ITERS", "8"))

    from kaminpar_spark.session import get_spark
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph
    from kaminpar_spark.operators.pagerank import pagerank
    from kaminpar_spark.operators.labelprop import label_propagation
    from kaminpar_spark.operators.components import connected_components
    from kaminpar_spark.operators.triangles import triangle_count

    # Shuffle partitions are sized to the DATA, identical at every
    # parallelism level (the r1 rule "2x cores" quadrupled the task count at
    # local[32] and task-dispatch overhead dominated: measured 3.5x slower
    # ETL at sp=64 vs sp=16 on the same 1.9M-edge input). Within the
    # data-sized rule the constant matters at the small end too: sf0.1
    # carries ~470k half-edges, and 32 partitions make ~15k-edge tasks whose
    # dispatch cost dominates the superstep (measured PR 13.4s at sp=32 vs
    # 6.2s at sp=8 on identical input). So the default derives sp from the
    # input scale — ~60k half-edges per partition (half_edges ~ 3.2/conv),
    # clamped to [8, 32] — and the env override pins it for protocol runs.
    n_convs_hint = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "0"))
    if not n_convs_hint:
        try:  # parquet footer row count: no Spark session needed yet
            import pyarrow.parquet as pq

            n_convs_hint = pq.ParquetFile(
                f"{sf_dir}/orders.parquet"
            ).metadata.num_rows
        except Exception:
            n_convs_hint = 0
    sp_auto = min(32, max(8, int(3.2 * n_convs_hint) // 60_000)) if n_convs_hint else 32
    sp = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")) or sp_auto
    # AQE off for the superstep bench: with explicit shuffle-hash hints and a
    # fixed data-sized partitioning there is nothing left for AQE to re-plan,
    # and its per-stage re-optimization is pure serial driver latency here
    # (measured ~0.2-0.4 s/superstep). Library defaults keep AQE on.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "false")
    spark = get_spark(
        "kaminpar_bench", cores=cpus, shuffle_partitions=sp,
        extra_conf={"spark.sql.adaptive.enabled": aqe},
    )
    headline_only = os.environ.get("SPARK_GRAFT_HEADLINE_ONLY", "0") == "1"
    t_all = time.time()
    queries: dict[str, float] = {}

    # ---- ETL: transcripts -> edge table (scalable dense ids) ----
    # SPARK_GRAFT_BENCH_CONVS overrides the sf-derived conversation count, so
    # a run can synthesize enough work to amortize fixed per-superstep
    # overhead.
    # Metric-region note: the conversation count now usually comes from the
    # parquet footer read above (outside the timed region); earlier rounds
    # timed a spark.read.count() job here, so round-over-round ETL
    # comparisons include that protocol change (~0.5s at sf0.1).
    t0 = time.time()
    n_convs = n_convs_hint or spark.read.parquet(
        f"{sf_dir}/orders.parquet"
    ).count()
    t = synth_transcripts(spark, n_convs)
    g, _ = transcript_graph(t, n_convs, stable_ids=False, num_partitions=sp)
    gp = g.prepare(num_partitions=sp, hub_degree_threshold=1 << 13, salt_factor=8, spark=spark)
    m = gp.num_half_edges()
    n = gp.num_nodes()
    queries["etl_edge_table"] = round(time.time() - t0, 3)
    _phase("etl done")

    # ---- PageRank (fixed supersteps for a stable throughput metric) ----
    # NOTE: chaining supersteps into one plan is a trap — a superstep
    # references its input state 2-3 times (gather + argmax + final join), so
    # chaining k steps without materialization recomputes the subtree ~3^k
    # times (measured: a 4-chained LPA block took 211 s vs 4 x 2 s
    # materialized). One localCheckpoint per superstep is the right
    # granularity.
    t0 = time.time()
    pagerank(gp, tol=0.0, max_iters=pr_iters).count()
    pr_sec = time.time() - t0
    queries["pagerank"] = round(pr_sec, 3)
    _phase("pagerank done")

    # ---- LPA ----
    t0 = time.time()
    label_propagation(
        gp, max_iters=lpa_iters, semi_sync=True, track_convergence=False,
    ).count()
    lpa_sec = time.time() - t0
    queries["lpa"] = round(lpa_sec, 3)
    _phase("lpa done")

    if not headline_only:
        # ---- CC ----
        t0 = time.time()
        cc_df = connected_components(gp, max_iters=30)
        cc_df.agg(F.countDistinct("comp")).first()
        queries["connected_components"] = round(time.time() - t0, 3)
        _phase("cc done")

        # ---- triangles ----
        t0 = time.time()
        triangle_count(gp)
        queries["triangle_count"] = round(time.time() - t0, 3)
        _phase("triangles done")

        # ---- deterministic random walks (embedding-prep sampling) ----
        from kaminpar_spark.operators.walks import deterministic_walks

        t0 = time.time()
        starts = gp.nodes.where(F.col("id") % 29 == 0).select("id")
        deterministic_walks(gp, starts, walk_len=4).count()
        queries["random_walks"] = round(time.time() - t0, 3)
        _phase("walks done")

        # ---- bipartite butterflies over the conv-actor incidence ----
        from kaminpar_spark.operators.bipartite import butterfly_count
        from kaminpar_spark.sources.transcripts import conv_actor_incidence

        t0 = time.time()
        butterfly_count(conv_actor_incidence(t, n_convs)).first()
        queries["butterflies"] = round(time.time() - t0, 3)
        _phase("butterflies done")

        # ---- Louvain phase-1 (modularity-gain moves, 2 rounds = 4
        # alternating-parity supersteps over the prepared graph) ----
        from kaminpar_spark.operators.louvain import louvain_level

        t0 = time.time()
        louvain_level(gp, gp.total_edge_weight(), rounds=2).count()
        queries["louvain_moves"] = round(time.time() - t0, 3)
        _phase("louvain done")

        # ---- LLM-data-pipeline lines: MinHash+LSH dedup and LSH ANN at this
        # SF (JVM-only sketch kernels; documents/embeddings parquet) ----
        from pyspark.sql import functions as F2

        from kaminpar_spark.functions.dedup import minhash_dedup_pairs
        from kaminpar_spark.functions.similarity import lsh_topk

        t0 = time.time()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs_df = minhash_dedup_pairs(docs, threshold=0.7, num_hashes=32, bands=8)
        n_dups = pairs_df.count()
        # release the pipeline's staging checkpoints (lineage.carry contract):
        # this driver runs ~20 more queries in the same session
        from kaminpar_spark.plans.lineage import release

        release(pairs_df)
        queries["minhash_dedup"] = round(time.time() - t0, 3)
        _phase(f"minhash dedup done ({n_dups} pairs)")

        t0 = time.time()
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        lsh_topk(
            emb, emb.where(F2.col("vec_id") < 50), k=10, num_planes=8, dim=64,
        ).count()
        queries["lsh_ann_topk"] = round(time.time() - t0, 3)
        _phase("lsh ann done")

        # recall-tuned config (8 tables x 6-flip multi-probe): ~8x the probe
        # work of the single-table line above, bought for recall@10 0.5 vs
        # 0.0 single-probe at sf0.01 (driver query lsh_recall measures it)
        t0 = time.time()
        lsh_topk(
            emb, emb.where(F2.col("vec_id") < 50), k=10, num_planes=8, dim=64,
            probe_flips=6, num_tables=8,
        ).count()
        queries["lsh_ann_multiprobe"] = round(time.time() - t0, 3)
        _phase("lsh ann multiprobe done")

        # ---- Boruvka MSF (bounded 2x2 — the driver-query shape) ----
        from kaminpar_spark.operators.mst import boruvka_msf

        t0 = time.time()
        msf, _ = boruvka_msf(gp, rounds=2, union_steps=2)
        msf.count()
        queries["msf_bounded"] = round(time.time() - t0, 3)
        _phase("msf done")

        # ---- ANF sketch (3 bit_or supersteps + ranks) ----
        from kaminpar_spark.operators.anf import anf_masks, anf_ranks

        t0 = time.time()
        anf_ranks(anf_masks(gp, rounds=3)).count()
        queries["anf_ranks"] = round(time.time() - t0, 3)
        _phase("anf done")

        # ---- k-truss (2 peel rounds at k=4) ----
        from kaminpar_spark.operators.truss import k_truss

        t0 = time.time()
        k_truss(gp, 4, rounds=2).count()
        queries["ktruss_r2"] = round(time.time() - t0, 3)
        _phase("ktruss done")

        # ---- k=3 clique-percolation communities (triangle-edge CC) ----
        from kaminpar_spark.operators.triangles import triangle_communities

        t0 = time.time()
        triangle_communities(gp, max_iters=8).count()
        queries["clique_percolation"] = round(time.time() - t0, 3)
        _phase("cpm done")

        # ---- 1-WL refinement (2 multiset-hash supersteps) ----
        from kaminpar_spark.operators.wl import wl_refine

        t0 = time.time()
        wl_refine(gp, rounds=2).count()
        queries["wl_refine2"] = round(time.time() - t0, 3)
        _phase("wl done")

        # ---- snapshot delta ingest (the 10^12-turn production cadence):
        # delta-anchored triangle terms with the old count cached, plus CC
        # warm-restarted from its own converged labels (1 no-op superstep)
        from kaminpar_spark.operators.triangles import incremental_triangle_count

        delta = gp.edges.where((F.col("src") + F.col("dst")) % 50 == 0).select(
            "src", "dst"
        )
        t0 = time.time()
        incremental_triangle_count(gp, delta, tri_old=0).first()
        connected_components(gp, max_iters=30, init_labels=cc_df).agg(
            F.countDistinct("comp")
        ).first()
        queries["delta_ingest"] = round(time.time() - t0, 3)
        _phase("delta ingest done")

        # ---- vertex-cut edge-placement evaluation (4 strategies, k=16) ----
        from kaminpar_spark.plans.edge_partition import edge_partition_eval

        t0 = time.time()
        edge_partition_eval(gp, k=16).count()
        queries["vertex_cut_eval"] = round(time.time() - t0, 3)
        _phase("vcut done")

        # ---- boilerplate-span scrub over the documents corpus ----
        from kaminpar_spark.functions.dedup import strip_dup_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        t0 = time.time()
        strip_dup_spans(docs, window=8).agg(F.sum("n_removed")).first()
        queries["strip_dup_spans"] = round(time.time() - t0, 3)
        _phase("scrub done")

        # ---- PQ/ADC ANN with exact rerank over the embeddings corpus ----
        from kaminpar_spark.functions.similarity import pq_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.time()
        pq_topk(
            emb, emb.where(F2.col("vec_id") < 5), k=10, num_codes=128, rerank=100
        ).count()
        queries["pq_ann_topk"] = round(time.time() - t0, 3)
        _phase("pq done")

        # ---- BM25 retrieval over the documents corpus (3 queries) ----
        from kaminpar_spark.functions.text import bm25_topk

        qdf = spark.createDataFrame(
            [(1, "spark join merge"), (2, "customer filter window"), (3, "vector hash")],
            "query_id long, qtext string",
        )
        t0 = time.time()
        bm25_topk(docs, qdf, k=5).count()
        queries["bm25_topk"] = round(time.time() - t0, 3)
        _phase("bm25 done")

        # ---- SemDeDup over the embeddings corpus (kmeans cells + prune) ----
        from kaminpar_spark.functions.similarity import semdedup

        t0 = time.time()
        semdedup(emb, k=8, iters=2, threshold=0.3, dim=64).where(
            ~F.col("keep")
        ).count()
        queries["semdedup"] = round(time.time() - t0, 3)
        _phase("semdedup done")

        # ---- BPE tokenizer training (word-freq-dict formulation) ----
        from kaminpar_spark.functions.bpe import bpe_learn

        t0 = time.time()
        bpe_learn(docs, rounds=4).count()
        queries["bpe_learn4"] = round(time.time() - t0, 3)
        _phase("bpe done")

    supersteps = pr_iters + lpa_iters
    kernel_sec = pr_sec + lpa_sec
    eps_per_superstep = m * supersteps / kernel_sec if kernel_sec > 0 else 0.0

    # Per-line wall budget (bench-suite discipline): any line above
    # SPARK_GRAFT_LINE_BUDGET_SEC at sf0.1 is flagged so a new operator
    # can't land un-audited — a flagged line needs a BENCH/PLANS.md entry
    # explaining its plan or a fix. etl_edge_table is exempt (one-time
    # materialization shared by every downstream query, not a kernel).
    budget = float(os.environ.get("SPARK_GRAFT_LINE_BUDGET_SEC", "10"))
    over_budget = sorted(
        q for q, sec in queries.items() if sec > budget and q != "etl_edge_table"
    )

    out = {
        "metric": "edges_per_sec_per_superstep",
        "value": round(eps_per_superstep, 1),
        "unit": "edges/sec",
        "queries": queries,
        "sf": sf_dir,
        "cpus": cpus,
        "graph": {"nodes": n, "half_edges": m, "supersteps": supersteps},
        "line_budget_sec": budget,
        "over_budget": over_budget,
        "total_sec": round(time.time() - t_all, 3),
    }
    if over_budget:
        _phase(f"OVER BUDGET (> {budget}s): {', '.join(over_budget)}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
