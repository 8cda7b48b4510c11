"""bench.py's pieces that need no timing: the cross-leg feature-parity
check and the leg selection of ``--publish``, and the replica generator
behind ``--scale``."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from test_entry import SF  # noqa: E402  (the shared sf0.001 tables)

CHECKSUMS = {"score": 1234.5, "score__absum": 5678.0, "turn_idx": "987", "text": "-42"}


def test_parity_equal_checksums_pass():
    assert bench._parity(CHECKSUMS, dict(CHECKSUMS))


def test_parity_float_tolerance_scales_with_absum():
    # a z-score column sums to ~0; reordering 10^6 terms of magnitude ~1
    # moves that sum by far more than a fixed 1e-9, yet stays within
    # 1e-12 x sum|x|
    a = {"z": 1e-7, "z__absum": 1e6}
    b = {"z": -2e-7, "z__absum": 1e6}
    assert bench._parity(a, b)
    # the same drift on a column of small magnitude is a real difference
    assert not bench._parity({**a, "z__absum": 1.0}, {**b, "z__absum": 1.0})


def test_parity_integer_or_hashed_mismatch_fails():
    assert not bench._parity(CHECKSUMS, {**CHECKSUMS, "turn_idx": "988"})
    assert not bench._parity(CHECKSUMS, {**CHECKSUMS, "text": "-41"})
    assert not bench._parity(CHECKSUMS, {k: v for k, v in CHECKSUMS.items() if k != "text"})


def _leg(cores, commit, n_turns, thr, checksums):
    return {"cores": cores, "n_turns": n_turns, "sec": round(n_turns / thr, 3),
            "sec_best": round(n_turns / thr, 3), "turns_per_sec": thr,
            "turns_per_sec_best": thr, "checksums": checksums, "commit": commit}


@pytest.fixture
def bench_dir(tmp_path, monkeypatch):
    """bench.py's BENCH/ files under ``tmp_path``, HEAD at commit "head"."""
    for attr, name in [("STAGES_PATH", "stage_results.json"), ("HISTORY_PATH",
                       "scaling_history.json"), ("BASELINE_PATH", "BASELINE.md"),
                       ("LAST_RUN_PATH", "last_run.json")]:
        monkeypatch.setattr(bench, attr, str(tmp_path / name))
    monkeypatch.setattr(bench, "_head", lambda: "head")
    stale = {"score": 9.0, "score__absum": 9.0, "turn_idx": "1", "text": "1"}
    bench._save(bench.STAGES_PATH, {
        # legs of HEAD at 1 and 4 cores on one input ...
        "1": _leg(1, "head", 94_000, 90_000.0, CHECKSUMS),
        "4": _leg(4, "head", 94_000, 300_000.0, CHECKSUMS),
        # ... a leg of HEAD on another input, and legs of an older commit:
        # each would fail parity with its neighbour and trip the
        # contention guard (thr < 0.9 x thr4) if it were used
        "2": _leg(2, "head", 1_000, 1_000.0, stale),
        "16": _leg(16, "old", 47_834_450, 50_000.0, stale),
        "32": _leg(32, "old", 47_834_450, 40_000.0, stale),
    })
    bench._save(bench.LAST_RUN_PATH, {"queries": {"asof_join": 0.5}, "sf": "0.1",
                                      "cores": 4, "turns_per_sec": 1.0, "n_turns": 1})
    return tmp_path


def test_publish_uses_only_head_legs_on_one_input(bench_dir, capsys):
    bench.publish()
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out == {"thr1": 90_000.0, "thr4": 300_000.0, "efficiency": 0.8333,
                   "parity": "allclose"}
    md = (bench_dir / "BASELINE.md").read_text()
    assert "local[1] (N)" in md and "local[4] (4N)" in md
    assert "local[2]" not in md and "local[16]" not in md
    (entry,) = json.loads((bench_dir / "scaling_history.json").read_text())
    assert entry["legs"] == [1, 4] and "excluded" not in entry


def test_publish_refuses_suite_run_at_another_sf(bench_dir):
    bench.publish()  # publishes sf0.1 floors
    before = (bench_dir / "BASELINE.md").read_text()
    run = json.loads((bench_dir / "last_run.json").read_text())
    bench._save(bench.LAST_RUN_PATH, {**run, "sf": "0.001", "queries": {"asof_join": 0.01}})
    with pytest.raises(SystemExit, match="sf0.001 run"):
        bench.publish()
    assert (bench_dir / "BASELINE.md").read_text() == before


def test_publish_needs_a_pair_of_head_legs(bench_dir, monkeypatch):
    monkeypatch.setattr(bench, "_head", lambda: "new")  # HEAD moved on
    with pytest.raises(SystemExit, match="legs N and 4N of commit new"):
        bench.publish()


def _mtimes(root: str) -> dict[str, float]:
    return {
        os.path.join(d, f): os.lstat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


def test_replicate_copies_disjoint_and_rerun_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    copies = 3
    out = str(tmp_path / "x3")
    bench.replicate(spark, SF, out, copies)

    for table, offsets in bench.KEY_OFFSETS.items():
        src = spark.read.parquet(f"{SF}/{table}.parquet")
        rep = spark.read.parquet(f"{out}/{table}.parquet")
        assert rep.count() == copies * src.count()
        for col in offsets:
            # copy k holds the source keys shifted by k x offset: the
            # copies are disjoint iff no distinct key is lost in the union
            n_src = src.select(F.countDistinct(col)).first()[0]
            n_rep = rep.select(F.countDistinct(col)).first()[0]
            assert n_rep == copies * n_src, (table, col)
    # every other table is shared with the source, not copied
    assert os.path.islink(f"{out}/region.parquet")

    before = _mtimes(out)
    bench.replicate(None, SF, out, copies)  # no Spark needed: nothing to do
    assert _mtimes(out) == before
