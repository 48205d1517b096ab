"""Iceberg adapter: target-syntax routing and parquet fallback."""

from __future__ import annotations

from kaminpar_spark.sources.iceberg import (
    iceberg_available,
    is_table_ident,
    read_table,
    write_table,
)


def test_target_syntax_routing():
    assert is_table_ident("lake.db.transcripts")
    assert is_table_ident("t")
    assert not is_table_ident("/tmp/x/step=0")
    assert not is_table_ident("out.parquet")
    assert not is_table_ident("s3://bucket/key")


def test_sandbox_has_no_iceberg_runtime(spark):
    # documents the environment assumption the parquet fallback relies on
    assert iceberg_available(spark) is False


def test_parquet_fallback_roundtrip(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "id * id AS sq")
    target = str(tmp_path / "snap")
    write_table(df, target)
    got = read_table(spark, target)
    assert sorted(r["sq"] for r in got.collect()) == [i * i for i in range(10)]
    # append mode accumulates
    write_table(df, target, mode="append")
    assert read_table(spark, target).count() == 20


def test_superstep_runner_still_resumes(spark, tmp_path):
    """Snapshot IO now routes through the adapter; resume must still work."""
    from pyspark.sql import functions as F

    from kaminpar_spark.plans.superstep import SuperstepRunner, run_supersteps

    runner = SuperstepRunner(spark, str(tmp_path))
    init = spark.range(5).select("id", F.lit(0).alias("v"))
    step = lambda st, i: st.withColumn("v", F.col("v") + 1)  # noqa: E731
    metrics = lambda st: {"maxv": st.agg(F.max("v")).first()[0]}  # noqa: E731
    converged = lambda m: m["maxv"] >= 3  # noqa: E731
    out = run_supersteps(init, step, metrics, converged, 10, runner, "t")
    assert out.agg(F.max("v")).first()[0] == 3
    # resume: converged manifest line short-circuits, same state back
    out2 = run_supersteps(init, step, metrics, converged, 10, runner, "t")
    assert out2.agg(F.max("v")).first()[0] == 3
    steps = [r["step"] for r in runner.completed_steps("t")]
    assert steps == sorted(set(steps)), "resume replayed a completed step"
