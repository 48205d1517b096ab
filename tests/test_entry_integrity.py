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
