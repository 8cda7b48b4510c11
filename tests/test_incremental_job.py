"""Incremental feature backfill: metadata-diff delta detection, touched-conv
recompute, merge-on-read upsert, pinned normalization stats."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.sources import snapshots as snap


@pytest.fixture
def increment(run_job):
    """Run the job in-process; return ``(rc, JSON line)``."""
    return lambda args: run_job("incremental_features", args)


def _frame(spark, table):
    return (
        snap.read(spark, table)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


@pytest.mark.slow
def test_incremental_equals_full_with_pinned_stats(tmp_path, spark, transcripts, increment):
    """Two source waves (new turns on old convs + brand-new convs): the
    incremental features must equal a full recompute under the FIRST
    wave's pinned stats, untouched convs must not be rewritten, and a
    third run with no new data is a no-op."""
    from acoustic_feature_extractor_spark.operators.stats import corpus_stats
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    src = str(tmp_path / "src")
    feat = str(tmp_path / "feat")
    t = transcripts  # deterministic generator fixture
    wave1 = t.where((F.col("conv_id") < "conv000020") & (F.col("turn_idx") < 10))
    wave2 = t.exceptAll(wave1)

    snap.commit(wave1, src)
    rc1, m1 = increment(["--source", src, "--features", feat])
    assert rc1 == 0 and not m1["noop"] and m1["source_snapshot"] == 1

    stats_row = corpus_stats(
        wave1.withColumn("text_len", F.length("text").cast("double")), "text_len"
    ).first()
    stats = {"mean": float(stats_row["mean"]), "stddev": float(stats_row["stddev"])}

    got1 = _frame(spark, feat)
    exp1 = (
        turn_features(wave1, frozen_stats=stats)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert len(got1) == len(exp1)
    np.testing.assert_allclose(
        got1["text_len_z"].to_numpy(), exp1["text_len_z"].to_numpy(), rtol=1e-12
    )

    # wave 2 lands; only its convs recompute, stats stay wave-1-pinned
    snap.commit(wave2, src)
    rc2, m2 = increment(["--source", src, "--features", feat])
    assert rc2 == 0 and not m2["noop"] and m2["source_snapshot"] == 2
    n_convs = t.select("conv_id").distinct().count()
    assert 0 < m2["touched_convs"] < n_convs  # some convs were untouched
    # merge-on-read rewrites no dir: the merge adds one beside the first
    assert snap.history(feat)[-1].dirs == ["data/snap-1", "data/snap-2"]

    got2 = _frame(spark, feat)
    exp2 = (
        turn_features(t, frozen_stats=stats)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert len(got2) == len(exp2)
    # rows_written = the merged dir: the touched conversations' feature
    # rows only — strictly less than a full recompute
    assert 0 < m2["rows_written"] <= len(exp2)
    touched = wave2.select("conv_id").distinct()
    assert m2["rows_written"] == t.join(touched, "conv_id", "left_semi").count()
    assert (got2["conv_id"].to_numpy() == exp2["conv_id"].to_numpy()).all()
    assert (got2["text"].to_numpy() == exp2["text"].to_numpy()).all()
    for c in ("text_len_z", "roll_len_mean", "dt_prev_sec"):
        np.testing.assert_allclose(
            got2[c].astype(float).to_numpy(),
            exp2[c].astype(float).to_numpy(),
            rtol=1e-12,
            equal_nan=True,
        )
    assert (
        got2["session_id"].to_numpy() == exp2["session_id"].to_numpy()
    ).all()

    # pinned stats recorded once, reused verbatim
    hist = snap.history(feat)
    assert hist[0].lineage["stats"] == stats
    assert hist[-1].lineage["stats"] == stats

    # no new source data -> no-op, no new snapshot
    before = snap.current_snapshot_id(feat)
    rc3, m3 = increment(["--source", src, "--features", feat])
    assert rc3 == 0 and m3["noop"]
    assert snap.current_snapshot_id(feat) == before


@pytest.mark.slow
def test_incremental_drift_gate(tmp_path, spark, transcripts, increment):
    """Every increment scores its delta's text_len distribution against
    the histogram pinned at the first run: a same-distribution wave
    reports a small PSI; a drastically shifted wave trips --max-psi (rc 2,
    nothing committed: the gate refuses inside the merge, after its
    write, and removes the written dir) and still lands in monitor-only
    mode with the PSI recorded in lineage."""
    src = str(tmp_path / "src")
    feat = str(tmp_path / "feat")

    def refused(argv):
        hist = snap.history(feat)
        rc, out = increment(argv)
        assert rc == 2 and out["failed"] == "drift_gate"
        assert snap.history(feat) == hist
        assert sorted(os.listdir(os.path.join(feat, "data"))) == sorted(
            d.split("/", 1)[1] for d in hist[-1].dirs
        )
        return out
    t = transcripts
    wave1 = t.where(F.col("conv_id") < "conv000030")
    wave2 = t.where(
        (F.col("conv_id") >= "conv000030") & (F.col("conv_id") < "conv000040")
    )
    wave3 = t.where(F.col("conv_id") >= "conv000040").withColumn(
        "text", F.concat(F.col("text"), F.lit(" x" * 400))  # massive shift
    )

    snap.commit(wave1, src)
    rc1, m1 = increment(["--source", src, "--features", feat])
    assert rc1 == 0 and m1["drift_psi"] is None  # first run PINS the window
    assert snap.history(feat)[0].lineage["text_len_hist"]

    snap.commit(wave2, src)
    rc2, m2 = increment(
        ["--source", src, "--features", feat, "--max-psi", "0.25", "--max-ks", "0.4"]
    )
    assert rc2 == 0 and m2["drift_psi"] is not None
    assert m2["drift_psi"] < 0.25  # same generator, same distribution
    assert m2["drift_ks"] is not None and m2["drift_ks"] < 0.4

    snap.commit(wave3, src)
    m3 = refused(["--source", src, "--features", feat, "--max-psi", "0.25"])
    assert m3["drift_psi"] > 0.25

    # the KS bar alone (no PSI bar) also catches the shifted wave — the
    # " x"*400 suffix pushes most of the delta's mass to higher bins, a
    # large worst-case CDF gap
    m3b = refused(["--source", src, "--features", feat, "--max-ks", "0.4"])
    assert m3b["drift_ks"] > 0.4

    rc4, m4 = increment(["--source", src, "--features", feat])  # monitor-only
    assert rc4 == 0 and m4["drift_psi"] > 0.25
    assert snap.history(feat)[-1].lineage["drift_psi"] == round(m4["drift_psi"], 6)
    assert snap.history(feat)[-1].lineage["drift_ks"] == round(m4["drift_ks"], 6)


# Spark jobs one increment launches on the tiny table below, measured
# with this suite's 8 shuffle partitions: 2 for the touched-key side of
# the semi-join (the delta's distinct keys, then their broadcast), 1 for
# the history scan and its exchange, and 1 for the window plus the
# write, which also checks the keys and profiles the delta (one
# Observation counts the touched conversations and bins the delta's
# text_len; the recomputed features are already clustered by
# conversation, so neither needs a cache or an exchange of its own). No
# job reads an old data dir (the merge writes only the updates), none
# infers a parquet schema (the snapshot log records it) and none scores
# drift (the driver does, from the two 16-bin count lists).
INCREMENT_JOB_BUDGET = 4


def test_increment_job_budget(tmp_path, spark, transcripts, increment):
    """One in-process increment that merges into the first run's dir
    stays within its Spark-job budget, writes only the touched
    conversations' rows into one new dir, and reports the touched
    conversations and the drift it scored."""
    src = str(tmp_path / "src")
    feat = str(tmp_path / "feat")
    t = transcripts.where(F.col("conv_id") < "conv000033")
    wave1 = t.where((F.col("conv_id") < "conv000030") & (F.col("turn_idx") < 10))
    wave2 = t.exceptAll(wave1)
    touched = wave2.select("conv_id").distinct().count()
    argv = ["--source", src, "--features", feat]
    sc = spark.sparkContext
    group = "increment-job-budget"
    snap.commit(wave1, src)
    assert increment(argv)[0] == 0
    snap.commit(wave2, src)
    sc.setJobGroup(group, "one increment")
    try:
        rc, out = increment(argv)
    finally:
        sc.setJobGroup(None, None)
    assert rc == 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= INCREMENT_JOB_BUDGET, f"{n_jobs} jobs"
    head = snap.history(feat)[-1]
    assert head.dirs == ["data/snap-1", "data/snap-2"]
    assert head.rows == out["rows_written"] == t.join(
        wave2.select("conv_id").distinct(), "conv_id", "left_semi"
    ).count()
    assert out["touched_convs"] == touched and out["source_snapshot"] == 2
    assert out["drift_psi"] is not None and out["drift_ks"] is not None
    assert snap.read(spark, feat).count() == t.count()


def test_empty_append_passes_drift_gate(tmp_path, spark, transcripts, increment):
    """An increment over a 0-row source append (an empty micro-batch
    landed by ``snapshot_sink``) has no distribution to score: PSI and KS
    are None, ``--max-psi`` passes, and the merge writes 0 rows."""
    src = str(tmp_path / "src")
    feat = str(tmp_path / "feat")
    t = transcripts.where(F.col("conv_id") < "conv000005")
    argv = ["--source", src, "--features", feat]
    snap.commit(t, src)
    assert increment(argv)[0] == 0
    snap.commit(t.limit(0), src)
    rc, out = increment([*argv, "--max-psi", "0.25"])
    assert rc == 0 and out["source_snapshot"] == 2
    assert out["rows_written"] == 0 and out["touched_convs"] == 0
    assert out["drift_psi"] is None and out["drift_ks"] is None
    head = snap.history(feat)[-1]
    assert head.rows == 0 and "drift_psi" not in head.lineage
    assert snap.read(spark, feat).count() == t.count()


def test_null_key_append_scores_no_drift(tmp_path, spark, transcripts, increment):
    """Drift is scored over the rows the increment featurizes. A source
    append whose every ``conv_id`` is NULL touches no conversation: the
    job writes 0 rows, and PSI and KS are None however far the dropped
    rows' text_len is from the pinned window, so ``--max-psi`` passes."""
    src = str(tmp_path / "src")
    feat = str(tmp_path / "feat")
    t = transcripts.where(F.col("conv_id") < "conv000005")
    argv = ["--source", src, "--features", feat]
    snap.commit(t, src)
    assert increment(argv)[0] == 0
    orphans = t.withColumn("conv_id", F.lit(None).cast("string")).withColumn(
        "text", F.concat(F.col("text"), F.lit(" x" * 400))
    )
    snap.commit(orphans, src)
    rc, out = increment([*argv, "--max-psi", "0.25"])
    assert rc == 0 and out["source_snapshot"] == 2
    assert out["touched_convs"] == 0 and out["rows_written"] == 0
    assert out["drift_psi"] is None and out["drift_ks"] is None
    assert snap.read(spark, feat).count() == t.count()
