"""Resumable job driver: per-bucket checkpoint + manifest + frozen stats.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The test runs the job for a subset of buckets (simulated crash),
resumes, and asserts the final output equals a clean single-shot run —
including the z-score column, which depends on corpus stats frozen at
first launch. A second test runs more buckets than conversations.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "run_turn_features.py")


def _run(args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, JOB, *args],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


@pytest.mark.slow
def test_job_resume_equals_single_shot(tmp_path, spark):
    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    r1 = _run(["--generate", "40", "--output", single, "--buckets", "4"])
    assert r1["rows_written"] > 0

    # partial run: run all 4 buckets, then drop the last two buckets'
    # manifest entries — as if the run died with both in flight. The first
    # of them keeps its output, as if its write landed but the manifest
    # save was lost; the second never wrote.
    r2 = _run(["--generate", "40", "--output", resumed, "--buckets", "4"])
    mdir = os.path.join(resumed, "_manifest")
    with open(os.path.join(mdir, "manifest.json")) as f:
        m = json.load(f)
    killed = [p["partition"] for p in m["partitions"][2:]]
    m["partitions"] = m["partitions"][:2]
    m["finished_unix"] = None
    with open(os.path.join(mdir, "manifest.json"), "w") as f:
        json.dump(m, f)
    shutil.rmtree(os.path.join(resumed, killed[1]))

    r3 = _run(["--generate", "40", "--output", resumed, "--buckets", "4", "--resume"])
    assert r3["skipped"] == 2
    # the staging dir goes once every bucket is recorded
    assert not os.path.exists(os.path.join(single, "_staging"))
    assert not os.path.exists(os.path.join(resumed, "_staging"))

    a = (
        spark.read.parquet(os.path.join(single, "bucket=*"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    b = (
        spark.read.parquet(os.path.join(resumed, "bucket=*"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert len(a) == len(b) == r1["rows_written"]
    # the kept bucket was rewritten, not appended to
    assert not b.duplicated(["conv_id", "turn_idx"]).any()
    # per-turn text equality under stable (conv_id, turn_idx) order
    assert (a["text"].to_numpy() == b["text"].to_numpy()).all()
    # z-scores match: resumed buckets used the frozen stats, not re-derived
    import numpy as np

    np.testing.assert_allclose(
        a["text_len_z"].to_numpy(), b["text_len_z"].to_numpy(), rtol=1e-12
    )

    # manifest carries per-partition lineage for every bucket
    with open(os.path.join(mdir, "manifest.json")) as f:
        final = json.load(f)
    assert {p["partition"] for p in final["partitions"]} == {f"bucket={i}" for i in range(4)}
    assert all(p["rows"] > 0 and p["seconds"] >= 0 for p in final["partitions"])
    assert final["args"]["_frozen_stats"] == m["args"]["_frozen_stats"]
    assert final["args"]["_staged_rows"] == r1["rows_written"]
    assert final["finished_unix"] is not None


def _job():
    spec = importlib.util.spec_from_file_location("run_turn_features", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_job_records_empty_buckets(tmp_path, spark, capsys):
    """More buckets than conversations: a bucket no conversation hashes to
    has no staging dir and is recorded with 0 rows."""
    out = str(tmp_path / "out")
    # the job's get_spark re-applies its runtime settings to this session
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    argv = ["--generate", "3", "--output", out, "--buckets", "8"]
    job = _job()
    try:
        assert job.main(argv) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    r = json.loads([l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1])

    mpath = os.path.join(out, "_manifest", "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    rows = {p["partition"]: p["rows"] for p in m["partitions"]}
    assert set(rows) == {f"bucket={i}" for i in range(8)}
    empty = [pid for pid, n in rows.items() if n == 0]
    assert len(empty) >= 5
    assert not any(os.path.exists(os.path.join(out, pid)) for pid in empty)
    written = spark.read.parquet(out).count()
    assert sum(rows.values()) == m["args"]["_staged_rows"] == r["rows_written"] == written
    assert not os.path.exists(os.path.join(out, "_staging"))

    # a recorded bucket that lost a row fails the row check; with every
    # bucket recorded, the resumed run launches no Spark job
    lossy = next(p for p in m["partitions"] if p["rows"] > 0)
    lossy["rows"] -= 1
    with open(mpath, "w") as f:
        json.dump(m, f)
    try:
        assert job.main([*argv, "--resume"]) == 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)


@pytest.mark.slow
def test_spark_submit_py_files_launch(tmp_path):
    """north_rule launch mode: spark-submit --py-files <pkg.zip> job.py."""
    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    pkg_zip = str(tmp_path / "afe.zip")
    subprocess.run(
        ["zip", "-qr", pkg_zip, "acoustic_feature_extractor_spark", "-x", "*__pycache__*"],
        check=True,
        cwd=REPO,
    )
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]", "--py-files", pkg_zip,
            JOB, "--generate", "10", "--output", str(tmp_path / "out"), "--buckets", "2",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    r = json.loads(line)
    assert r["rows_written"] > 0 and r["buckets"] == 2
