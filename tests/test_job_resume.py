"""Resumable job driver: per-bucket checkpoint + manifest + frozen stats.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The job runs its pending buckets in waves, one Spark query
each. A test drops the last two waves' manifest entries (simulated
crash), resumes, and asserts the final output equals a clean one-wave
run — including the z-score column, which depends on corpus stats frozen
at first launch. Others pin the job budget of a one-wave call, the wave
write's overwrite scope, and a run with more buckets than conversations.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess

import numpy as np
import pytest

from acoustic_feature_extractor_spark.datagen import generate_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "run_turn_features.py")


def _drop_last(out: str, n: int) -> list[str]:
    """Drop the last ``n`` partitions of ``out``'s manifest, as if the run
    died before recording them; return their ids."""
    path = os.path.join(out, "_manifest", "manifest.json")
    with open(path) as f:
        m = json.load(f)
    dropped = [p["partition"] for p in m["partitions"][-n:]]
    m["partitions"] = m["partitions"][:-n]
    m["finished_unix"] = None
    with open(path, "w") as f:
        json.dump(m, f)
    return dropped


def test_job_resume_equals_single_shot(tmp_path, spark, run_job, bucket_waves):
    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")
    argv = ["--generate", "40", "--buckets", "4"]

    def run(out, *extra):
        rc, r = run_job("run_turn_features", [*argv, "--output", out, *extra])
        assert rc == 0
        return r

    r1 = run(single)
    assert r1["rows_written"] > 0 and r1["waves"] == 1

    # partial run: each bucket its own wave, then drop the last two waves'
    # manifest entries — as if the run died with both unrecorded. The
    # first of them keeps its output, as if its write landed but the
    # manifest save was lost; the second never wrote.
    with bucket_waves():
        assert run(resumed)["waves"] == 4
    with open(os.path.join(resumed, "_manifest", "manifest.json")) as f:
        m = json.load(f)
    killed = _drop_last(resumed, 2)
    shutil.rmtree(os.path.join(resumed, killed[1]))

    r3 = run(resumed, "--resume")
    assert r3["skipped"] == 2 and r3["waves"] == 1
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
    np.testing.assert_allclose(
        a["text_len_z"].to_numpy(), b["text_len_z"].to_numpy(), rtol=1e-12
    )

    # manifest carries per-partition lineage for every bucket
    with open(os.path.join(resumed, "_manifest", "manifest.json")) as f:
        final = json.load(f)
    assert {p["partition"] for p in final["partitions"]} == {f"bucket={i}" for i in range(4)}
    assert all(p["rows"] > 0 and p["seconds"] >= 0 for p in final["partitions"])
    assert final["args"]["_frozen_stats"] == m["args"]["_frozen_stats"]
    assert final["args"]["_staged_rows"] == r1["rows_written"]
    assert final["finished_unix"] is not None


# Spark jobs one backfill call launches when its buckets fit one wave,
# measured with this suite's 8 shuffle partitions: 1 infers the input's
# parquet schema, 1 is the map-only staging write (it also observes the
# corpus stats and the row count), and the wave's one query runs as 2:
# the conv_id exchange, then the windows and the partitioned write, whose
# Observation counts each bucket's rows. Sizing the buckets and packing
# the waves reads only file-system metadata.
BACKFILL_JOB_BUDGET = 4


def test_backfill_job_budget(tmp_path, spark, run_job):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    generate_transcripts(spark, n_convs=40).write.parquet(src)
    # the scheduler's job-id counter, not a job group: a group set on this
    # thread would miss jobs a job submits from threads of its own
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    rc, r = run_job("run_turn_features", ["--input", src, "--output", out, "--buckets", "4"])
    n_jobs = dag.nextJobId() - first
    assert rc == 0 and r["waves"] == 1
    assert n_jobs <= BACKFILL_JOB_BUDGET, f"{n_jobs} jobs"
    assert spark.read.parquet(out).count() == r["rows_written"] == spark.read.parquet(src).count()


def test_wave_write_replaces_only_its_buckets(tmp_path, spark, run_job, bucket_waves):
    """A wave's write leaves ``_manifest/``, ``_staging/`` and the recorded
    buckets' dirs alone and replaces a stale dir of its own bucket; the
    ``.spark-staging-*`` dir of a wave killed mid-write goes with
    ``_staging``."""
    out = str(tmp_path / "out")
    argv = ["--generate", "40", "--output", out, "--buckets", "4"]
    with bucket_waves():
        rc, r1 = run_job("run_turn_features", argv)
        assert rc == 0 and r1["waves"] == 4
        for pid in _drop_last(out, 2):
            # a stale file in an unrecorded bucket's dir: kept, it would
            # duplicate that bucket's rows
            part = next(f for f in os.listdir(os.path.join(out, pid)) if f.startswith("part-"))
            shutil.copy(os.path.join(out, pid, part), os.path.join(out, pid, f"stale-{part}"))
        kept = {
            pid: {e.name: e.stat().st_mtime_ns for e in os.scandir(os.path.join(out, pid))}
            for pid in ("bucket=0", "bucket=1")
        }
        open(os.path.join(out, "_manifest", "sentinel"), "w").close()
        os.makedirs(os.path.join(out, ".spark-staging-killed"))
        # two pending buckets, two waves: the second reads _staging after
        # the first one's write
        rc, r2 = run_job("run_turn_features", [*argv, "--resume"])
    assert rc == 0 and r2["skipped"] == 2 and r2["waves"] == 2
    assert os.path.exists(os.path.join(out, "_manifest", "sentinel"))
    for pid, files in kept.items():
        assert {e.name: e.stat().st_mtime_ns for e in os.scandir(os.path.join(out, pid))} == files
    for pid in ("bucket=2", "bucket=3"):
        assert not [f for f in os.listdir(os.path.join(out, pid)) if f.startswith("stale-")]
    assert not [e for e in os.listdir(out) if e.startswith((".spark-staging-", "_staging"))]
    got = spark.read.parquet(out)
    assert got.count() == got.select("conv_id", "turn_idx").distinct().count() == r1["rows_written"]


def _job():
    spec = importlib.util.spec_from_file_location("run_turn_features", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_job_records_empty_buckets(tmp_path, spark, capsys):
    """More buckets than conversations: a bucket no conversation hashes to
    has no staging dir and is recorded with 0 rows."""
    out = str(tmp_path / "out")
    argv = ["--generate", "3", "--output", out, "--buckets", "8"]
    job = _job()
    assert job.main(argv) == 0
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
    assert job.main([*argv, "--resume"]) == 1


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
