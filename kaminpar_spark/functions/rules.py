"""Scalar rule math (driver-side) — reference F2–F8.

These are pure-Python scalars the driver evaluates between supersteps; they
never touch data, so they stay out of Spark entirely (mirroring how the
reference computes them once per level in Context, context.cc:88-130,384-416).
"""

from __future__ import annotations

import math


def floor_log2(x: int) -> int:
    """utility/math.h:11-57."""
    return x.bit_length() - 1


def ceil_log2(x: int) -> int:
    return (x - 1).bit_length() if x > 1 else 0


def is_power_of_2(x: int) -> bool:
    return x > 0 and (x & (x - 1)) == 0


def split_integral(v: int, ratio: float = 0.5) -> tuple[int, int]:
    """ceil/floor split of k for recursive bisection (utility/math.h:51)."""
    a = math.ceil(v * ratio)
    return a, v - a


def percentile_index(n: int, p: float) -> int:
    """utility/math.h:38-47: index of the p-th percentile in a sorted array."""
    return max(0, min(n - 1, math.ceil(p * n) - 1))


def adaptive_epsilon(
    epsilon: float, k_final: int, k_sub: int, total_weight: int, sub_weight: int
) -> float:
    """2-way adaptive epsilon (context.cc:384-393, compute_2way_adaptive_epsilon):
    base = (1+eps) * k_sub * W_root / (k_final * W_sub),
    eps' = max(base^(1/ceil(log2 k_sub)) - 1, 1e-4) — spreads the global
    imbalance budget over the remaining bisection levels of this subgraph."""
    if k_sub <= 1:
        return epsilon
    base = (1 + epsilon) * k_sub * total_weight / (k_final * max(sub_weight, 1))
    return max(base ** (1 / ceil_log2(k_sub)) - 1, 1e-4)


def max_cluster_weight_epsilon_block(
    epsilon: float, total_node_weight: int, n: int, contraction_limit: int, k: int
) -> int:
    """EPSILON_BLOCK_WEIGHT rule: eps*W / clamp(n/C, 2, k) (context.cc:395-416)."""
    denom = min(max(n // max(contraction_limit, 1), 2), k)
    return max(1, int(epsilon * total_node_weight / denom))


def max_cluster_weight_block(
    epsilon: float, total_node_weight: int, k: int, multiplier: float = 1.0
) -> int:
    """BLOCK_WEIGHT rule: multiplier*(1+eps)*W/k (context.cc:395-416)."""
    return max(1, int(multiplier * (1 + epsilon) * total_node_weight / k))


def max_block_weight(total_node_weight: int, k: int, epsilon: float, max_node_weight: int = 1) -> int:
    """(1+eps)*ceil(W/k), relaxed by +max_node_weight for weighted graphs
    (context.cc:96-130)."""
    base = int((1 + epsilon) * math.ceil(total_node_weight / k))
    if max_node_weight > 1:
        base = max(base, math.ceil(total_node_weight / k) + max_node_weight)
    return base


def adapt_epsilon_after_isolated_removal(
    total_weight_before: int, total_weight_after: int, k: int, epsilon: float
) -> float:
    """Preserve the absolute max block weight when isolated nodes are dropped:
    eps' = old_max_block_weight / ceil(W'/k) - 1 (graph_utils.cc:280-283)."""
    old_cap = (1 + epsilon) * math.ceil(total_weight_before / k)
    return old_cap / math.ceil(total_weight_after / k) - 1


def relative_gain(gain: float, weight: int) -> float:
    """gain >= 0 ? gain*weight : gain/weight (parallel_balancer.h:109-115)."""
    return gain * weight if gain >= 0 else gain / weight


def degree_bucket(deg: int) -> int:
    """deg==0 ? 0 : floor_log2(deg)+1 (graph.cc:6-7)."""
    return 0 if deg == 0 else floor_log2(deg) + 1


def fill_final_k(k: int, final_k: int) -> list[int]:
    """Per-block final-block counts along the bisection tree
    (graph_utils.cc:43-60 fill_final_k): splitting final_k with
    split_integral at every bisection level of a k-way partition gives how
    many of the final_k blocks each of the k current blocks will host.
    sum(result) == final_k; requires final_k >= k >= 1."""
    assert final_k >= k >= 1, (k, final_k)
    out = [1] * k

    def fill(b0: int, fk: int, kk: int) -> None:
        fk1, fk2 = split_integral(fk)
        k1, k2 = split_integral(kk)
        out[b0] = fk1
        out[b0 + k1] = fk2
        if k1 > 1:
            fill(b0, fk1, k1)
        if k2 > 1:
            fill(b0 + k1, fk2, k2)

    if k >= 2:
        fill(0, final_k, k)
    else:
        out[0] = final_k
    return out


def max_block_weight_final_k(
    total_node_weight: int,
    final_k_total: int,
    final_k_b: int,
    epsilon: float,
    max_node_weight: int = 1,
) -> int:
    """Per-block cap during deep partitioning: block b (hosting final_k_b of
    the final_k_total blocks) may weigh (1+eps)*ceil(final_k_b * W /
    final_k_total), relaxed by +max_node_weight for weighted graphs
    (context.cc:114-130 setup_max_block_weight(final_ks))."""
    balanced = math.ceil(total_node_weight * final_k_b / final_k_total)
    base = int((1 + epsilon) * balanced)
    if max_node_weight > 1:
        base = max(base, balanced + max_node_weight)
    return base


def deep_k_prime(n: int, contraction_limit: int, k_final: int) -> int:
    """Deep-multilevel block schedule k' = clamp(2^ceil_log2(n // C), 2,
    k_final) with INTEGER (floor) division, matching compute_k_for_n exactly
    (partitioning_scheme/helper.cc:204-209): n < 2C is the special case
    (log would be non-positive) and returns 2."""
    if n < 2 * contraction_limit:
        return 2
    return max(2, min(k_final, 2 ** ceil_log2(n // contraction_limit)))
