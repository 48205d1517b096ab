"""scripts/scale.py: the scaling harness's pure parts (efficiency math,
fingerprint check, markdown), plus a slow end-to-end smoke run."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("scale", os.path.join(REPO, "scripts", "scale.py"))
scale = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale)


def _rec(cores, phases, fingerprint=None):
    return {
        "cores": cores,
        "wall_s": sum(phases.values()),
        "phases": phases,
        "throughput": 1000.0 / sum(phases.values()),
        "fingerprint": fingerprint or {"n": 10, "m": 40, "supersteps": 16},
    }


def test_efficiency_time_based_per_phase_first_pair_is_headline():
    recs = [
        _rec(2, {"pr": 60.0, "lpa": 40.0}),
        _rec(8, {"pr": 20.0, "lpa": 10.0}),
        _rec(32, {"pr": 12.0, "lpa": 8.0}),
    ]
    head, second = scale.efficiencies(recs)
    assert (head["lo"], head["hi"], second["lo"], second["hi"]) == (2, 8, 8, 32)
    assert head["total"]["speedup"] == pytest.approx(100 / 30)
    assert head["total"]["efficiency"] == pytest.approx(100 / 30 / 4)
    assert head["phases"]["pr"]["efficiency"] == pytest.approx(0.75)
    assert head["phases"]["lpa"]["efficiency"] == pytest.approx(1.0)
    assert second["total"]["efficiency"] == pytest.approx(1.5 / 4)
    # --levels order, not sorted order, decides the pairs
    (pair,) = scale.efficiencies([recs[1], recs[0]])
    assert (pair["lo"], pair["hi"]) == (8, 2)
    assert pair["total"]["efficiency"] == pytest.approx((30 / 100) / (2 / 8))


def test_fingerprint_mismatch_across_levels_raises():
    same = [_rec(1, {"cc": 2.0}), _rec(2, {"cc": 1.0}), _rec(4, {"cc": 0.5})]
    scale.check_fingerprints(same)
    odd = same[:2] + [_rec(4, {"cc": 0.5}, {"n": 10, "m": 41, "supersteps": 16})]
    with pytest.raises(ValueError, match="local\\[4\\]"):
        scale.check_fingerprints(odd)


def test_markdown_of_canned_record_pair():
    fp = {"n_docs": 100, "merges": [["a", "b"], ["ab", "c"]], "tokens_after": 55}
    recs = [
        _rec(2, {"dict": 4.0, "rounds": 12.0}, fp),
        _rec(8, {"dict": 1.25, "rounds": 3.75}, fp),
    ]
    md = scale.render_markdown("bpe", 5000, 4, 32, recs)
    assert "| parallelism | wall (s) | dict (s) | rounds (s) | docs/s |" in md
    assert "|---|---|---|---|---|" in md
    assert "| local[2] | 16.0 | 4.0 | 12.0 | 62 |" in md
    assert "| local[8] | 5.0 | 1.2 | 3.8 | 200 |" in md
    assert "n_docs 100, merges 2, tokens_after 55" in md
    assert "**headline (local[2] -> local[8]): speedup 3.20x (ideal 4x), efficiency 0.80**" in md
    assert "per phase: dict 3.20x / 0.80, rounds 3.20x / 0.80" in md
    assert "`python scripts/scale.py --kernel bpe --levels 2,8 --size 5000 --steps 4 --sp 32`" in md
    # a one-phase kernel has no per-phase columns or lines
    one = scale.render_markdown("dedup", 5000, None, 32, [
        _rec(1, {"dedup": 2.0}, {"n_docs": 5000, "n_candidate_pairs": 7}),
        _rec(2, {"dedup": 1.0}, {"n_docs": 5000, "n_candidate_pairs": 7}),
    ])
    assert "| parallelism | wall (s) | docs/s |" in one
    assert "per phase" not in one and "--steps" not in one


@pytest.mark.slow
@pytest.mark.parametrize("kernel", ["cc", "bpe"])
def test_scale_end_to_end_tiny(tmp_path, kernel):
    out = tmp_path / f"{kernel}.md"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scale.py"), "--kernel", kernel,
         "--size", "2000", "--levels", "1,2", "--sp", "4", "--build-cores", "2",
         "--workdir", str(tmp_path / "in"), "--out", str(out)],
        check=True, env=env, timeout=900,
    )
    md = out.read_text()
    assert "| local[1] |" in md and "| local[2] |" in md
    assert "headline (local[1] -> local[2])" in md
