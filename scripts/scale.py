"""Scaling-efficiency harness (BASELINE.json north rule: >= 0.8 from N to 4N).

No cluster exists in the sandbox, so N and 4N executors are stood in for by
two parallelism levels of local mode on the SAME machine and the SAME input.
One protocol for every kernel in ``KERNELS``:

1. Build the kernel's input ONCE and save it as parquet: the
   transcript-derived edge table (graph kernels) or the synthetic documents
   corpus (dedup, bpe). Skipped when its ``_SUCCESS`` marker exists. The
   one-time ETL is not part of the per-superstep throughput scaled here.
2. Run the kernel in a fresh subprocess per level (a local-mode JVM cannot
   change its core count after start): this file re-invoked with ``--child``.
3. Require the kernel's deterministic fingerprint (n/m, forest edges,
   candidate pairs, BPE merges) to be identical at every level, then report
   efficiency = (T_lo / T_hi) / (hi / lo) for each consecutive pair of
   levels, in total and per phase. The first pair is the headline.

Why 2 -> 8 is the default headline pair: all local "executors" share one
memory bus, and more than ~8 concurrent shuffle threads saturate
single-socket DRAM bandwidth, a ceiling a real 4N cluster does not have
(each added node brings its own memory channels). 2 -> 8 cores keeps
per-core bandwidth constant, the property the rule's N -> 4N assumes.
Per-superstep parallel work must dominate the fixed driver cost (~1-2 s)
at both levels (>= ~11x it at level N for 0.8 at 4x cores, by Amdahl), hence
the 36M-conversation default graph. scripts/hw_calibration.py measures the
host's own core-scaling ceiling without Spark.

Usage: python scripts/scale.py --kernel {pr_lpa,cc,anf,msf,dedup,bpe}
           [--levels 2,8] [--size N] [--steps S] [--sp 32]
           [--workdir /tmp/kaminpar_scale] [--build-cores CPUS] [--out PATH]
The driver heap comes from SPARK_GRAFT_DRIVER_MEM (the 36M-conversation
build needs about 56g). Writes BENCH/<KERNEL>_SCALING.md unless --out.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# msf runs each round's label union to convergence (true Boruvka): at 9M
# components a bounded 2-step union leaves chains unmerged.
MSF_UNION_STEPS = None


# ---- inputs (built once, in a child at --build-cores) ----

def input_paths(kind: str, workdir: str, size: int) -> list[str]:
    names = ["edges", "nodes"] if kind == "graph" else ["docs"]
    return [os.path.join(workdir, f"{name}_{size}.parquet") for name in names]


def build_graph(spark, size: int, cores: int, paths: list[str]) -> None:
    from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph

    g, _ = transcript_graph(
        synth_transcripts(spark, size), size, stable_ids=False, num_partitions=2 * cores
    )
    g.edges.write.mode("overwrite").parquet(paths[0])
    g.nodes.write.mode("overwrite").parquet(paths[1])


def build_corpus(spark, size: int, cores: int, paths: list[str]) -> None:
    from kaminpar_spark.sources.corpus import synth_documents

    docs = synth_documents(spark, size).repartition(2 * cores)
    docs.write.mode("overwrite").parquet(paths[0])


BUILDERS = {"graph": build_graph, "corpus": build_corpus}


# ---- kernels: (spark, paths, steps, sp) -> phases (s), throughput, fingerprint ----

def _graph(spark, paths: list[str], sp: int | None):
    """The saved graph; salted-prepared at ``sp`` partitions unless None."""
    from kaminpar_spark.graph import GraphFrame

    g = GraphFrame(edges=spark.read.parquet(paths[0]), nodes=spark.read.parquet(paths[1]))
    if sp is None:
        return g
    return g.prepare(num_partitions=sp, hub_degree_threshold=1 << 13, salt_factor=8, spark=spark)


def _supersteps(state, step, steps: int) -> float:
    """Wall of ``steps`` supersteps, one localCheckpoint each."""
    from kaminpar_spark.plans.lineage import release, truncate

    state = truncate(state)
    t0 = time.time()
    for i in range(steps):
        new = truncate(step(state, i))
        release(state)
        state = new
    wall = time.time() - t0
    release(state)
    return wall


def pr_lpa(spark, paths, steps, sp) -> dict:
    from pyspark.sql import functions as F

    from kaminpar_spark.operators.labelprop import lp_step
    from kaminpar_spark.operators.pagerank import init_ranks, pagerank_step

    gp = _graph(spark, paths, sp)
    n, m = gp.num_nodes(), gp.num_half_edges()
    pr = _supersteps(
        init_ranks(gp, n), lambda s, i: pagerank_step(gp, s, n, dangling_mass=0.0), steps
    )
    lpa = _supersteps(
        gp.nodes.select("id", F.col("id").alias("label"), "weight"),
        lambda s, i: lp_step(gp, s, step_idx=i, semi_sync=True),
        steps,
    )
    return {"phases": {"pr": pr, "lpa": lpa}, "throughput": m * 2 * steps / (pr + lpa),
            "fingerprint": {"n": n, "m": m, "supersteps": 2 * steps}}


def cc(spark, paths, steps, sp) -> dict:
    from pyspark.sql import functions as F

    from kaminpar_spark.operators.components import cc_step

    gp = _graph(spark, paths, sp)
    n, m = gp.num_nodes(), gp.num_half_edges()
    wall = _supersteps(
        gp.nodes.select("id", F.col("id").alias("comp")), lambda s, i: cc_step(gp, s), steps
    )
    return {"phases": {"cc": wall}, "throughput": m * steps / wall,
            "fingerprint": {"n": n, "m": m, "supersteps": steps}}


def anf(spark, paths, steps, sp) -> dict:
    from kaminpar_spark.operators.anf import anf_round, init_masks

    gp = _graph(spark, paths, sp)
    n, m = gp.num_nodes(), gp.num_half_edges()
    wall = _supersteps(init_masks(gp.nodes, 4), lambda s, i: anf_round(gp, s, 4), steps)
    return {"phases": {"anf": wall}, "throughput": m * steps / wall,
            "fingerprint": {"n": n, "m": m, "supersteps": steps}}


def msf(spark, paths, steps, sp) -> dict:
    from kaminpar_spark.operators.mst import boruvka_msf

    g = _graph(spark, paths, None)
    n, m = g.num_nodes(), g.num_half_edges()
    t0 = time.time()
    forest, _ = boruvka_msf(g, rounds=steps, union_steps=MSF_UNION_STEPS)
    forest_edges = forest.count()
    wall = time.time() - t0
    return {"phases": {"msf": wall}, "throughput": m * steps / wall,
            "fingerprint": {"n": n, "m": m, "rounds": steps, "forest_edges": forest_edges}}


def dedup(spark, paths, steps, sp) -> dict:
    from kaminpar_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures, shingles

    docs = spark.read.parquet(paths[0])
    n_docs = docs.count()  # warms the page cache outside the timed window
    t0 = time.time()
    sigs = minhash_signatures(shingles(docs, portable=True), num_hashes=64)
    # max_bucket_size arms the skew circuit breaker, as a production corpus
    # would run; on the synthetic corpus no bucket exceeds it.
    n_pairs = lsh_candidate_pairs(sigs, bands=16, max_bucket_size=1000).count()
    wall = time.time() - t0
    return {"phases": {"dedup": wall}, "throughput": n_docs / wall,
            "fingerprint": {"n_docs": n_docs, "n_candidate_pairs": n_pairs}}


def bpe(spark, paths, steps, sp) -> dict:
    from kaminpar_spark.functions.bpe import bpe_learn, word_dict
    from kaminpar_spark.plans.lineage import truncate

    docs = spark.read.parquet(paths[0])
    n_docs = docs.count()
    t0 = time.time()
    wd = truncate(word_dict(docs))  # the corpus pass: grows with the corpus
    dict_s = time.time() - t0
    t1 = time.time()
    merges = bpe_learn(docs, rounds=steps, words=wd).collect()  # vocabulary-scale
    rounds_s = time.time() - t1
    pairs = [[r["merge_left"], r["merge_right"]] for r in merges]
    return {"phases": {"dict": dict_s, "rounds": rounds_s},
            "throughput": n_docs / (dict_s + rounds_s),
            "fingerprint": {"n_docs": n_docs, "merges": pairs,
                            "tokens_after": merges[-1]["tokens_after"]}}


class Kernel(NamedTuple):
    fn: Callable[..., dict]
    input: str  # "graph" or "corpus"
    size: int  # default --size: conversations or documents
    steps: int | None  # default --steps; None: the kernel has no step count
    aqe: bool  # superstep kernels run AQE off: fixed data-sized partitioning
    unit: str
    what: str


KERNELS = {
    "pr_lpa": Kernel(pr_lpa, "graph", 36_000_000, 8, False, "edges/s/superstep",
                     "PageRank supersteps, then as many LPA supersteps"),
    "cc": Kernel(cc, "graph", 36_000_000, 8, False, "edges/s/superstep",
                 "connected-components hash-to-min supersteps (no pointer doubling)"),
    "anf": Kernel(anf, "graph", 36_000_000, 3, False, "edges/s/superstep",
                  "ANF Flajolet-Martin OR-mask supersteps (4 `bit_or` streams)"),
    "msf": Kernel(msf, "graph", 36_000_000, 2, False, "edges/s/round",
                  "Boruvka MSF rounds, each label union run to convergence"),
    "dedup": Kernel(dedup, "corpus", 2_000_000, None, True, "docs/s",
                    "MinHash near-dup: portable shingles, 64-hash signatures, "
                    "16-band LSH bucket join (skew guard armed), candidate count"),
    "bpe": Kernel(bpe, "corpus", 1_000_000, 4, True, "docs/s",
                  "BPE training: one corpus pass to the (word, freq) dictionary, "
                  "then merge rounds over the vocabulary"),
}


def child(spec: dict) -> dict:
    """One fresh process: build the input, or run the kernel once."""
    from kaminpar_spark.session import get_spark

    k, cores = KERNELS[spec["kernel"]], spec["cores"]
    if spec["build"]:
        spark = get_spark("scale_build", cores=cores, shuffle_partitions=2 * cores)
        BUILDERS[k.input](spark, spec["size"], cores, spec["paths"])
        return {}
    conf = None if k.aqe else {"spark.sql.adaptive.enabled": "false"}
    spark = get_spark(f"scale_{spec['kernel']}", cores=cores,
                      shuffle_partitions=spec["sp"], extra_conf=conf)
    r = k.fn(spark, spec["paths"], spec["steps"], spec["sp"])
    phases = {p: round(s, 2) for p, s in r["phases"].items()}
    return {"cores": cores, "wall_s": round(sum(phases.values()), 2), "phases": phases,
            "throughput": round(r["throughput"], 1), "fingerprint": r["fingerprint"]}


def run_child(spec: dict) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(spec["cores"]),
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", json.dumps(spec)],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=5400,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
        raise RuntimeError(f"child failed: {spec['kernel']} at {spec['cores']} cores")
    return json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])


# ---- pure parts: fingerprint check, efficiency, markdown ----

def check_fingerprints(records: list[dict]) -> None:
    first = records[0]
    for r in records[1:]:
        if r["fingerprint"] != first["fingerprint"]:
            raise ValueError(f"fingerprint differs: local[{first['cores']}] "
                             f"{first['fingerprint']} vs local[{r['cores']}] {r['fingerprint']}")


def _eff(t_lo: float, t_hi: float, ratio: float) -> dict:
    speedup = t_lo / t_hi if t_hi > 0 else 0.0
    return {"speedup": speedup, "efficiency": speedup / ratio}


def efficiencies(records: list[dict]) -> list[dict]:
    """Per consecutive pair of levels, in run order (the first pair is the
    headline): time-based speedup and efficiency, in total and per phase."""
    out = []
    for lo, hi in zip(records, records[1:]):
        ratio = hi["cores"] / lo["cores"]
        out.append({"lo": lo["cores"], "hi": hi["cores"], "ratio": ratio,
                    "total": _eff(lo["wall_s"], hi["wall_s"], ratio),
                    "phases": {p: _eff(lo["phases"][p], hi["phases"][p], ratio)
                               for p in lo["phases"]}})
    return out


def render_markdown(name: str, size: int, steps: int | None, sp: int,
                    records: list[dict]) -> str:
    k = KERNELS[name]
    phases = list(records[0]["phases"])
    split = len(phases) > 1
    fp = ", ".join(
        f"{key} {len(v) if isinstance(v, list) else v:,}"
        for key, v in records[0]["fingerprint"].items()
    )
    what = "conversations (transcript edge table)" if k.input == "graph" else "synthetic documents"
    cols = ["parallelism", "wall (s)"] + [f"{p} (s)" for p in phases if split] + [k.unit]
    rows = ["| " + " | ".join(cols) + " |", "|---" * len(cols) + "|"]
    for r in records:
        cells = [f"local[{r['cores']}]", f"{r['wall_s']:.1f}"]
        cells += [f"{r['phases'][p]:.1f}" for p in phases if split]
        rows.append("| " + " | ".join(cells + [f"{r['throughput']:,.0f}"]) + " |")
    lines = []
    for i, e in enumerate(efficiencies(records)):
        t = e["total"]
        pair = f"local[{e['lo']}] -> local[{e['hi']}]"
        text = f"speedup {t['speedup']:.2f}x (ideal {e['ratio']:g}x), efficiency {t['efficiency']:.2f}"
        lines.append(f"- **headline ({pair}): {text}** (target >= 0.8)" if i == 0
                     else f"- {pair}: {text}")
        if split:
            lines.append("  - per phase: " + ", ".join(
                f"{p} {pe['speedup']:.2f}x / {pe['efficiency']:.2f}"
                for p, pe in e["phases"].items()))
    levels = ",".join(str(r["cores"]) for r in records)
    repro = f"python scripts/scale.py --kernel {name} --levels {levels} --size {size}"
    repro += f" --steps {steps}" if steps is not None else ""
    return f"""# {name} scaling (north-rule protocol, scripts/scale.py)

Kernel: {k.what}{f" ({steps} steps)" if steps is not None else ""}.
Input: {size:,} {what}, built once and read from parquet by every level.
Shuffle partitions fixed at {sp}; one fresh Spark process per level.
Fingerprint, identical at every level: {fp}.

{chr(10).join(rows)}

{chr(10).join(lines)}

Reproduce: `{repro} --sp {sp}`
"""


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--child"]:  # internal: one level in a fresh process
        print(json.dumps(child(json.loads(argv[1]))), flush=True)
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--kernel", required=True, choices=sorted(KERNELS))
    ap.add_argument("--levels", default="2,8",
                    help="core counts, one fresh process each; the first pair is the headline")
    ap.add_argument("--size", type=int,
                    help="conversations (graph kernels) or documents (dedup, bpe); default per kernel")
    ap.add_argument("--steps", type=int, help="supersteps or rounds; default per kernel")
    ap.add_argument("--sp", type=int, default=32,
                    help="shuffle partitions (data-sized, identical at every level)")
    ap.add_argument("--workdir", default="/tmp/kaminpar_scale")
    ap.add_argument("--build-cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--out", help="markdown path (default BENCH/<KERNEL>_SCALING.md)")
    args = ap.parse_args(argv)
    k = KERNELS[args.kernel]
    levels = [int(x) for x in args.levels.split(",")]
    if len(levels) < 2:
        ap.error("--levels needs at least two core counts")
    if k.steps is None and args.steps is not None:
        ap.error(f"--steps does not apply to {args.kernel}")
    size, steps = args.size or k.size, args.steps or k.steps
    paths = input_paths(k.input, args.workdir, size)
    spec = {"kernel": args.kernel, "size": size, "steps": steps, "sp": args.sp, "paths": paths}

    if not all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths):
        print(f"== building {k.input} input ({size:,}) ==", flush=True)
        os.makedirs(args.workdir, exist_ok=True)
        run_child({**spec, "build": True, "cores": args.build_cores})
    records = []
    for cores in levels:
        print(f"== {args.kernel} at local[{cores}] ==", flush=True)
        records.append(run_child({**spec, "build": False, "cores": cores}))
        print(json.dumps(records[-1]), flush=True)
    check_fingerprints(records)

    md = render_markdown(args.kernel, size, steps, args.sp, records)
    out = args.out or os.path.join(REPO, "BENCH", f"{args.kernel.upper()}_SCALING.md")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        f.write(md)
    print(md)


if __name__ == "__main__":
    main()
