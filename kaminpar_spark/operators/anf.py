"""ANF — approximate neighborhood function via Flajolet-Martin bitmasks.

The classic web-scale reachability sketch (Palmer/Gibbons/Faloutsos, ANF,
KDD'02; the HyperBall/HyperANF lineage): give every node K one-hot bitmasks
whose set bit is geometrically distributed, then one superstep ORs each
node's masks with its neighbors' — after t supersteps node v's mask is the
OR over its radius-t ball, and the position of the lowest UNSET bit estimates
the ball's cardinality (E[r] ~ log2(0.77351 * n)). This turns "how many nodes
are within t hops of v" — exact computation is a t-fold self-join, hopeless
at 10^12 turns — into t supersteps of a 64-bit ``bit_or`` hash aggregate:
constant state per node, map-side combinable, no per-row Python.

Everything is deterministic and integer-valued so the DuckDB oracle
hash-checks the masks and rank sums bit for bit: the stream hashes are the
engine's affine mixers mod the Mersenne prime (functions.hashing.POLY_MOD),
the geometric bit is ``h & -h`` (lowest set bit of a uniform residue), the
lowest-zero rank is ``bit_count(((~m) & (m+1)) - 1)``.

Scale notes: state is K int64 columns per node (K=4 default → 32 bytes);
the superstep reuses the prepared edge layout via GraphFrame.gather,
and ``bit_or`` partial-aggregates map-side, so hubs cost one combiner each.
Estimator range: the geometric bit comes from a 31-bit residue, so ranks cap
at 31 and ball sizes are estimable up to ~2^31 (~2·10^9) nodes per stream —
ample for actor-graph balls; for node sets beyond that, swap the affine
mixer for a 61-bit modulus (same code shape, masks stay one int64).
The float estimate (2^mean_r / 0.77351) is derived OUTSIDE the hashed
columns — callers get exact ints plus a clearly-separated IEEE estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.functions.hashing import POLY_MOD
from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import carry, release, truncate
from kaminpar_spark.plans.superstep import run_supersteps

# Per-stream affine mixers (primes, same family as operators.walks): each
# term < 2^45, ANSI-safe in int64 without intermediate pmod.
ANF_A = (10007, 10093, 10159, 10247, 10273, 10321, 10369, 10459)
ANF_B = (7, 11, 13, 17, 19, 23, 29, 31)
PHI = 0.77351  # Flajolet-Martin bias correction


def _mask_cols(k: int) -> list[str]:
    return [f"m{i}" for i in range(k)]


def init_masks(nodes: DataFrame, streams: int = 4) -> DataFrame:
    """(id, m0..m{K-1}): one geometric one-hot bit per stream. h is a uniform
    residue in [1, POLY_MOD]; ``h & -h`` isolates its lowest set bit, which is
    at position j with probability ~2^-(j+1) — the FM geometric bit."""
    assert streams <= len(ANF_A), streams
    out = nodes.select("id")
    for i in range(streams):
        h = (F.lit(ANF_A[i]) * F.col("id") + F.lit(ANF_B[i])) % F.lit(POLY_MOD) + F.lit(1)
        out = out.withColumn(f"m{i}", h.bitwiseAND(-h).cast("long"))
    return out


def anf_round(graph: GraphFrame, state: DataFrame, streams: int = 4) -> DataFrame:
    """One OR-superstep: m' = m | bit_or(neighbor masks)."""
    cols = _mask_cols(streams)
    gathered = graph.gather(state, cols)
    neigh = (
        gathered.select(F.col("dst").alias("id"), *cols)
        .groupBy("id")
        .agg(*[F.bit_or(c).alias(f"n_{c}") for c in cols])
    )
    return state.join(neigh.hint("shuffle_hash"), "id", "left").select(
        "id",
        *[
            F.col(c).bitwiseOR(F.coalesce(f"n_{c}", F.lit(0))).alias(c)
            for c in cols
        ],
    )


def anf_masks(
    graph: GraphFrame,
    rounds: int = 3,
    streams: int = 4,
    runner=None,
    name: str = "anf_masks",
) -> DataFrame:
    """Masks after ``rounds`` OR-supersteps (deterministic unrolled form —
    mirrors the oracle; state is truncated per round so planning stays flat).

    ``runner`` (plans.superstep.SuperstepRunner) makes every superstep a
    durable snapshot with a changed-mask convergence metric, resumable
    mid-iteration. Early exit at changed == 0 is parity-safe: a fixpoint
    mask set is invariant under further OR-rounds, so the bounded oracle
    sees identical values."""
    cols = _mask_cols(streams)

    def step(s: DataFrame, i: int) -> DataFrame:
        cur = s.select("id", *cols)
        new = anf_round(graph, cur, streams)
        if runner is None:
            return new
        prev = cur.select("id", *[F.col(c).alias(f"p{c}") for c in cols])
        return new.join(prev.hint("shuffle_hash"), "id")

    def metrics(new: DataFrame) -> dict:
        if runner is None:
            return {}
        changed = None
        for c in cols:
            t = (F.col(c) != F.col(f"p{c}")).cast("int")
            changed = t if changed is None else F.greatest(changed, t)
        ch = new.agg(F.sum(changed).alias("ch")).first()["ch"]
        return {"changed": int(ch or 0)}

    def converged(m: dict) -> bool:
        return runner is not None and m.get("changed") == 0

    init = init_masks(graph.nodes, streams)
    final = run_supersteps(init, step, metrics, converged, rounds, runner, name)
    return carry(final.select("id", *cols), final)


def anf_ranks(masks: DataFrame, streams: int = 4) -> DataFrame:
    """Adds per-stream lowest-zero ranks r0.. and their exact int sum
    ``r_sum`` (the hash-checkable sufficient statistic of the FM estimate)."""
    out = masks
    for c in _mask_cols(streams):
        m = F.col(c)
        lowest_zero = F.bitwise_not(m).bitwiseAND(m + F.lit(1))
        out = out.withColumn(f"r_{c}", F.bit_count(lowest_zero - F.lit(1)).cast("long"))
    r_sum = None
    for c in _mask_cols(streams):
        term = F.col(f"r_{c}")
        r_sum = term if r_sum is None else r_sum + term
    return out.withColumn("r_sum", r_sum)


def ball_estimates(graph: GraphFrame, rounds: int = 3, streams: int = 4) -> DataFrame:
    """(id, r_sum, est): per-node radius-``rounds`` ball-size estimate
    2^(r_sum/K)/phi. ``est`` is IEEE float and intentionally NOT part of any
    oracle hash; ``r_sum`` is the exact statistic."""
    ranks = anf_ranks(anf_masks(graph, rounds, streams), streams)
    est = F.pow(F.lit(2.0), F.col("r_sum") / F.lit(float(streams))) / F.lit(PHI)
    return ranks.select("id", "r_sum", est.alias("est"))


def hop_plot(graph: GraphFrame, max_t: int = 3, streams: int = 4) -> DataFrame:
    """(t, total_r): global sum of per-node lowest-zero rank sums after t
    OR-supersteps, t = 0..max_t — the exact-integer sufficient statistic of
    the ANF hop-plot N(t) (the float estimate is sum-of-2^(r/K)/phi, derived
    by callers; keeping the readout integral makes it hash-checkable).

    States for all t stay persisted until the result is consumed (the union
    references every level); node-scale x (max_t+1), fine at any max_t this
    readout makes sense for."""
    state = truncate(init_masks(graph.nodes, streams))
    parts: list[DataFrame] = []
    for t in range(max_t + 1):
        if t > 0:
            state = truncate(anf_round(graph, state, streams))
        ranks = anf_ranks(state, streams)
        parts.append(
            ranks.agg(F.sum("r_sum").alias("total_r")).select(
                F.lit(t).cast("int").alias("t"),
                F.col("total_r").cast("long").alias("total_r"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def neighborhood_function(
    graph: GraphFrame, max_t: int = 4, streams: int = 4
) -> list[tuple[int, float]]:
    """Global N(t) = sum over nodes of estimated |ball(v, t)| for t=0..max_t —
    the classic ANF curve (effective-diameter readout). Driver-side list of
    (t, estimate); one agg per t over the running mask state."""
    def read(s: DataFrame) -> dict:
        ranks = anf_ranks(s, streams)
        est = F.pow(F.lit(2.0), F.col("r_sum") / F.lit(float(streams))) / F.lit(PHI)
        return {"nf": float(ranks.agg(F.sum(est).alias("nf")).first()["nf"])}

    init = truncate(init_masks(graph.nodes, streams))
    out = [(0, read(init)["nf"])]
    final = run_supersteps(
        init, lambda s, i: anf_round(graph, s, streams), read, lambda m: False, max_t,
        on_metrics=lambda i, m: out.append((i + 1, m["nf"])), truncate_init=False,
    )
    release(final)
    return out


def rank_histogram(graph: GraphFrame, max_t: int = 3, streams: int = 4) -> DataFrame:
    """(t, r_sum, cnt) — node counts by per-node rank sum after t
    OR-supersteps, t = 0..max_t: the COMPLETE exact sufficient statistic of
    the ANF neighborhood-function curve (hop_plot keeps only the global sum).
    From this tiny table (<= (max_t+1) * (64*streams) rows) any ANF readout —
    N(t) curve, effective diameter, per-radius growth — is a driver-side fold
    with no further cluster work, and the table itself is integer-exact so it
    hash-checks cross-engine."""
    state = truncate(init_masks(graph.nodes, streams))
    parts: list[DataFrame] = []
    for t in range(max_t + 1):
        if t > 0:
            state = truncate(anf_round(graph, state, streams))
        ranks = anf_ranks(state, streams)
        parts.append(
            ranks.groupBy("r_sum").agg(F.count("*").alias("cnt")).select(
                F.lit(t).cast("int").alias("t"),
                F.col("r_sum").cast("long").alias("r_sum"),
                F.col("cnt").cast("long").alias("cnt"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def effective_diameter(
    graph: GraphFrame, max_t: int = 3, streams: int = 4, quantile: float = 0.9
) -> tuple[int, list[float]]:
    """(eff_diameter, [N(0)..N(max_t)]) — smallest t whose estimated
    neighborhood function reaches ``quantile`` of N(max_t) (the standard ANF
    effective-diameter readout, Palmer/Gibbons/Faloutsos 2002). The curve is
    folded driver-side from the exact rank histogram: N(t) =
    sum over (r_sum, cnt) of cnt * 2^(r_sum/streams) / phi."""
    hist = rank_histogram(graph, max_t, streams).collect()
    curve = [0.0] * (max_t + 1)
    for row in hist:
        curve[row["t"]] += row["cnt"] * (2.0 ** (row["r_sum"] / float(streams))) / PHI
    target = quantile * curve[max_t]
    eff = next(t for t in range(max_t + 1) if curve[t] >= target)
    return eff, curve
