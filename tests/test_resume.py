"""Resumability (north rule / FIXTURES.md §4): kill after superstep s, resume
from snapshot, bit-identical final state; manifest carries lineage+metrics."""

from __future__ import annotations

import pytest

import json

from kaminpar_spark import fixtures
from kaminpar_spark.operators.pagerank import pagerank
from kaminpar_spark.operators.components import connected_components
from kaminpar_spark.plans.superstep import SuperstepRunner


@pytest.mark.slow
def test_pagerank_resume_bit_identical(spark, tmp_path):
    g, _, _ = fixtures.erdos_renyi(spark, n=300, p=0.02, seed=5, hub_overlay=1)
    # uninterrupted reference run
    r_full = SuperstepRunner(spark, str(tmp_path / "full"))
    want = {r["id"]: r["rank"] for r in pagerank(g, tol=0.0, max_iters=8, runner=r_full).collect()}
    # interrupted run: stop after 3 supersteps ("kill"), then resume to 8
    r_part = SuperstepRunner(spark, str(tmp_path / "part"))
    pagerank(g, tol=0.0, max_iters=3, runner=r_part)
    steps_before = [s["step"] for s in r_part.completed_steps("pagerank")]
    assert steps_before == [0, 1, 2]
    got = {r["id"]: r["rank"] for r in pagerank(g, tol=0.0, max_iters=8, runner=r_part).collect()}
    steps_after = [s["step"] for s in r_part.completed_steps("pagerank")]
    assert steps_after == list(range(8))  # steps 0-2 NOT replayed
    assert got == want  # bit-identical (same float ops from the same snapshot)


def test_manifest_metrics_and_lineage(spark, tmp_path):
    g, _, _ = fixtures.erdos_renyi(spark, n=200, p=0.03, seed=9, hub_overlay=1)
    runner = SuperstepRunner(spark, str(tmp_path))
    connected_components(g, max_iters=20, runner=runner)
    recs = runner.completed_steps("connected_components")
    assert recs, "manifest must exist"
    for rec in recs:
        assert {"step", "rows", "metrics", "wall_sec", "path", "converged"} <= set(rec)
        assert "moved" in rec["metrics"]
    assert recs[-1]["converged"]
    assert recs[-1]["metrics"]["moved"] == 0
    # snapshot on disk is loadable and complete
    snap = spark.read.parquet(recs[-1]["path"])
    assert snap.count() == 200


def test_converged_run_short_circuits(spark, tmp_path):
    """Re-invoking a converged job must not run any new supersteps."""
    g = fixtures.k3(spark)
    runner = SuperstepRunner(spark, str(tmp_path))
    connected_components(g, max_iters=10, runner=runner)
    n_before = len(runner.completed_steps("connected_components"))
    connected_components(g, max_iters=10, runner=runner)
    assert len(runner.completed_steps("connected_components")) == n_before


def test_durable_runner_releases_superseded_checkpoints(spark, tmp_path):
    """A durable run truncates its initial state before the first step; once
    superseded, that checkpoint is released, so the run leaves at most the
    final state's blocks behind. ``on_metrics`` gets one call per durable
    step, with the manifest's step indices."""
    from kaminpar_spark.plans.lineage import persistent_rdd_ids

    g, _, _ = fixtures.erdos_renyi(spark, n=120, p=0.04, seed=3, hub_overlay=0)
    runner = SuperstepRunner(spark, str(tmp_path))
    calls = []
    before = persistent_rdd_ids(spark)
    ranks = pagerank(
        g, tol=0.0, max_iters=3, runner=runner, on_metrics=lambda i, m: calls.append(i)
    )
    left = persistent_rdd_ids(spark) - before
    assert calls == [r["step"] for r in runner.completed_steps("pagerank")] == [0, 1, 2]
    assert left <= getattr(ranks, "_kaminpar_chk_ids", set()), left
