"""Static integrity checks on the driver contract module.

Python silently lets a later ``def`` shadow an earlier one — that bug class
made ``repeat_contacts`` run the wrong query for a round (two functions both
named ``_q_response_latency``). These checks are pure AST/dict inspection,
no Spark session.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def test_no_duplicate_toplevel_defs():
    tree = ast.parse(ENTRY.read_text())
    names = [
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    dupes = [n for n, c in Counter(names).items() if c > 1]
    assert dupes == [], f"shadowed top-level functions in __spark_entry__.py: {dupes}"


def test_every_query_has_oracle_and_unique_callable():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(qs) == set(os_), (
        f"queries/oracles out of sync: only-queries={sorted(set(qs) - set(os_))}, "
        f"only-oracles={sorted(set(os_) - set(qs))}"
    )
    # Two keys bound to the same callable is almost always a paste error
    # (distinct keys must compute distinct things).
    by_fn: dict[object, list[str]] = {}
    for k, fn in qs.items():
        by_fn.setdefault(fn, []).append(k)
    shared = {fn.__name__: ks for fn, ks in by_fn.items() if len(ks) > 1}
    assert shared == {}, f"multiple query keys share one callable: {shared}"


def test_partition_verify_oracle_reads_only_this_runs_snapshot(monkeypatch, tmp_path):
    """The oracle resolves the snapshot of the sf under test written by the
    Spark side of the SAME process (run nonce in the path): a snapshot left
    by another run, under the old shared name or another nonce, is never
    the one it reads."""
    import __spark_entry__ as e

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(tmp_path / "sf0.5"))
    sql = e._partition_verify_sql()
    mine = e._partition_snapshot_path("sf0.5")
    assert e._PV_RUN_NONCE in mine and "sf0.5" in mine
    assert f"read_parquet('{mine}/*.parquet')" in sql
    assert sql.count("read_parquet(") == 1



def test_semdedup_oracle_corpus_size(monkeypatch, tmp_path):
    """The oracle derives k from the gate corpus it is pointed at: an
    embeddings parquet that exists but cannot be read raises instead of
    silently pinning n=500, the failed read leaves no aborted DuckDB
    transaction behind for the next read, and a missing corpus keeps the
    n=500 default (the oracle dict is built for every query)."""
    import duckdb

    import __spark_entry__ as e
    from kaminpar_spark.functions.similarity import semdedup_auto_k

    bad, good, missing = tmp_path / "bad", tmp_path / "good", tmp_path / "missing"
    bad.mkdir()
    good.mkdir()
    (bad / "embeddings.parquet").write_bytes(b"not a parquet file")
    with duckdb.connect() as con:
        con.execute(
            f"COPY (SELECT range AS vec_id FROM range(5000)) "
            f"TO '{good / 'embeddings.parquet'}' (FORMAT parquet)"
        )
    assert semdedup_auto_k(5000) != semdedup_auto_k(500)

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(bad))
    with pytest.raises(duckdb.Error):
        e._semdedup_sql()
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(good))
    assert e._kmeans_sql(k=semdedup_auto_k(5000)) in e._semdedup_sql()
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(missing))
    assert e._kmeans_sql(k=semdedup_auto_k(500)) in e._semdedup_sql()
