"""Snapshot-log table format: commits are atomic and versioned, time
travel reads exact historical file sets, rollback is metadata-only,
expire reclaims only unreferenced dirs."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from acoustic_feature_extractor_spark.sources import snapshots as snap


def _df(spark, ids):
    return spark.createDataFrame(pd.DataFrame({"id": list(ids), "v": [float(i) for i in ids]}))


def test_append_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = snap.commit(_df(spark, range(5)), t, lineage={"stage": "a"})
    s2 = snap.commit(_df(spark, range(5, 8)), t)
    assert (s1.rows, s2.rows) == (5, 3)
    assert snap.current_snapshot_id(t) == s2.snapshot_id
    assert snap.read(spark, t).count() == 8  # current = union of appends
    assert snap.read(spark, t, s1.snapshot_id).count() == 5  # time travel
    hist = snap.history(t)
    assert [h.operation for h in hist] == ["append", "append"]
    assert hist[1].parent_id == s1.snapshot_id
    assert hist[0].lineage == {"stage": "a"}


def test_overwrite_starts_fresh(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(5)), t)
    s2 = snap.commit(_df(spark, range(100, 102)), t, operation="overwrite")
    assert snap.read(spark, t).count() == 2
    assert snap.read(spark, t, 1).count() == 5  # old version still readable
    assert s2.dirs == ["data/snap-2"]


def test_append_schema_mismatch_refused(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    other = spark.createDataFrame(pd.DataFrame({"x": [1]}))
    with pytest.raises(ValueError, match="schema mismatch"):
        snap.commit(other, t)
    snap.commit(other, t, operation="overwrite")  # evolution via overwrite
    assert snap.read(spark, t).columns == ["x"]


def test_rollback_metadata_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = snap.commit(_df(spark, range(4)), t)
    snap.commit(_df(spark, range(4, 9)), t)
    s3 = snap.rollback(t, s1.snapshot_id)
    assert snap.read(spark, t).count() == 4  # current == rolled-back set
    assert s3.operation == "rollback"
    # nothing deleted: the rolled-back-over snapshot is still readable
    assert snap.read(spark, t, 2).count() == 9


def test_expire_reclaims_unreferenced_and_orphans(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    snap.commit(_df(spark, range(3, 5)), t, operation="overwrite")
    # orphan from a "crashed commit": data dir with no log entry
    os.makedirs(os.path.join(t, "data/snap-99"))
    deleted = snap.expire(t, keep_last=1)
    assert set(deleted) == {"data/snap-1", "data/snap-99"}
    assert snap.read(spark, t).count() == 2
    with pytest.raises(KeyError, match="expired"):
        snap.read(spark, t, 1)


def test_crashed_commit_invisible(spark, tmp_path):
    """Data-dir-written-but-log-not-published must not change what
    readers see (the commit order guarantees this)."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    # simulate the crash: write a data dir exactly where snap 2 would go,
    # but never publish the log
    _df(spark, range(100)).write.parquet(os.path.join(t, "data/snap-2"))
    assert snap.current_snapshot_id(t) == 1
    assert snap.read(spark, t).count() == 3


def test_merge_upsert_merge_on_read(spark, tmp_path):
    """MERGE writes only the updates, into one new dir after the head's
    dirs, and records its key columns as the deletes of the older dirs:
    matched rows update, new keys insert, every old dir is carried by
    reference, and the pre-merge snapshot stays time-travelable."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(5)), t)  # snap-1: ids 0..4
    snap.commit(_df(spark, range(100, 105)), t)  # snap-2: ids 100..104
    upd = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 999], "v": [-1.0, -2.0, -999.0]})
    )
    s3 = snap.merge_upsert(spark, upd, t, key="id")
    assert s3.operation == "merge"
    assert s3.lineage["rewritten_dirs"] == []
    assert s3.dirs == ["data/snap-1", "data/snap-2", "data/snap-3"]
    assert s3.delete_keys == {"data/snap-3": ["id"]}
    # rows = rows THIS snapshot wrote (commit convention): 2 updates + 1
    # insert, nothing of the old dirs
    assert s3.rows == 3
    got = {r["id"]: r["v"] for r in snap.read(spark, t).collect()}
    assert len(got) == 11
    assert got[1] == -1.0 and got[2] == -2.0 and got[999] == -999.0
    assert got[0] == 0.0 and got[100] == 100.0
    # pre-merge snapshot unchanged
    old = {r["id"]: r["v"] for r in snap.read(spark, t, 2).collect()}
    assert old[1] == 1.0 and 999 not in old


def test_merge_upsert_guards(spark, tmp_path):
    """Bad keys are refused by the merge's own write: its dir is removed
    and the log still ends at the previous snapshot."""

    def refused(table, updates, key, match):
        hist = snap.history(table)
        with pytest.raises(ValueError, match=match):
            snap.merge_upsert(spark, updates, table, key=key)
        assert not os.path.exists(os.path.join(table, "data", "snap-2"))
        assert snap.history(table) == hist

    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    dup = spark.createDataFrame(pd.DataFrame({"id": [1, 1], "v": [0.0, 1.0]}))
    refused(t, dup, "id", "duplicate keys")
    other = spark.createDataFrame(pd.DataFrame({"x": [1]}))
    refused(t, other, "x", "schema mismatch")
    # NULL keys can never equi-join: refusing beats silently duplicating
    nulls = spark.createDataFrame(
        pd.DataFrame({"id": pd.array([None], dtype="Int64"), "v": [0.0]})
    )
    refused(t, nulls, "id", "NULL key")

    # updates already clustered by a prefix of the key, as turn_features
    # output is: the key-count window needs no exchange, and still sees
    # the duplicate
    t2 = str(tmp_path / "tbl2")
    rows = pd.DataFrame({"id": [1, 1, 2, 3], "idx": [0, 1, 0, 0], "v": [0.0] * 4})
    snap.commit(spark.createDataFrame(rows), t2)
    dup2 = (
        spark.createDataFrame(rows.iloc[[0, 1, 1, 3]])
        .repartition("id")
        .sortWithinPartitions("id", "idx")
    )
    refused(t2, dup2, ["id", "idx"], "duplicate keys")


def test_merge_upsert_callable_lineage(spark, tmp_path):
    """A callable ``lineage`` runs after the write, so it can read an
    Observation on the updates; its dict lands in the snapshot. If it
    raises, the merge's dir is removed, the log is unchanged and the
    exception propagates."""
    from pyspark.sql import Observation

    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    obs = Observation("upd")
    upd = _df(spark, [1, 7]).observe(obs, F.sum("v").alias("s"))
    s2 = snap.merge_upsert(spark, upd, t, key="id", lineage=lambda: {"s": obs.get["s"]})
    assert s2.lineage == {"s": 8.0, "rewritten_dirs": []}
    assert snap.history(t)[-1].lineage == s2.lineage

    class Veto(Exception):
        pass

    def veto():
        raise Veto("refused")

    hist = snap.history(t)
    with pytest.raises(Veto, match="refused"):
        snap.merge_upsert(spark, _df(spark, [2]), t, key="id", lineage=veto)
    assert not os.path.exists(os.path.join(t, "data", "snap-3"))
    assert snap.history(t) == hist


def test_commit_callable_lineage(spark, tmp_path):
    """``commit`` takes the same callable ``lineage`` as ``merge_upsert``:
    it reads an Observation on the written frame, and a raise removes the
    new dir and leaves the log as it was."""
    from pyspark.sql import Observation

    t = str(tmp_path / "tbl")
    obs = Observation("rows")
    df = _df(spark, range(4)).observe(obs, F.count_if(F.col("id") > 1).alias("n"))
    s1 = snap.commit(df, t, lineage=lambda: {"n": obs.get["n"]})
    assert s1.lineage == {"n": 2} and snap.history(t)[-1].lineage == s1.lineage

    def veto():
        raise RuntimeError("refused")

    with pytest.raises(RuntimeError, match="refused"):
        snap.commit(_df(spark, [9]), t, lineage=veto)
    assert not os.path.exists(os.path.join(t, "data", "snap-2"))
    assert snap.history(t) == [s1]


def test_merge_upsert_pure_insert(spark, tmp_path):
    """No matched keys: every existing dir is carried by reference and the
    new dir holds exactly the inserts."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(4)), t)
    s2 = snap.merge_upsert(spark, _df(spark, range(10, 12)), t, key="id")
    assert s2.lineage["rewritten_dirs"] == []
    assert s2.dirs == ["data/snap-1", "data/snap-2"]
    assert s2.rows == 2
    assert snap.read(spark, t).count() == 6


def _upd(spark, pairs):
    return spark.createDataFrame(pd.DataFrame({"id": [k for k, _ in pairs], "v": [v for _, v in pairs]}))


def _vals(df):
    return {r["id"]: r["v"] for r in df.collect()}


def test_merge_reads_and_rewrites_no_old_dir(spark, tmp_path):
    """A merge into a two-dir table opens neither old dir (the merge
    succeeds with both moved away), and its new dir holds exactly the
    update rows."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(5)), t)
    snap.commit(_df(spark, range(100, 105)), t)
    upd = _upd(spark, [(1, -1.0), (103, -103.0), (999, -999.0)])
    away = tmp_path / "away"
    away.mkdir()
    for d in ("snap-1", "snap-2"):
        os.rename(os.path.join(t, "data", d), str(away / d))
    try:
        s3 = snap.merge_upsert(spark, upd, t, key="id")
    finally:
        for d in ("snap-1", "snap-2"):
            os.rename(str(away / d), os.path.join(t, "data", d))
    written = spark.read.parquet(os.path.join(t, "data/snap-3"))
    assert sorted(map(tuple, written.collect())) == sorted(map(tuple, upd.collect()))
    assert s3.rows == 3 and s3.lineage["rewritten_dirs"] == []
    got = _vals(snap.read(spark, t))
    assert len(got) == 11 and got[1] == -1.0 and got[103] == -103.0 and got[0] == 0.0


def test_stacked_merges_newest_wins(spark, tmp_path):
    """Two merges on one key: the newest value wins, the first merge's row
    is deleted by the second, and each snapshot reads its own version."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(5)), t)
    s2 = snap.merge_upsert(spark, _upd(spark, [(2, -2.0), (7, -7.0)]), t, key="id")
    s3 = snap.merge_upsert(spark, _upd(spark, [(2, 22.0)]), t, key="id")
    assert s3.delete_keys == {"data/snap-2": ["id"], "data/snap-3": ["id"]}
    got = _vals(snap.read(spark, t))
    assert got == {0: 0.0, 1: 1.0, 2: 22.0, 3: 3.0, 4: 4.0, 7: -7.0}
    assert _vals(snap.read(spark, t, s2.snapshot_id))[2] == -2.0
    ch = snap.read_changes(spark, t, s2.snapshot_id, s3.snapshot_id)
    assert sorted((r["id"], r["v"], r["_change_type"]) for r in ch.collect()) == [
        (2, -2.0, "delete"),
        (2, 22.0, "insert"),
    ]


def test_rollback_across_merge_restores_old_row(spark, tmp_path):
    """Rolling back to before a merge brings the old row back (the
    rollback copies its target's deletes), and the CDC scan across the
    rollback is the merge's changes reversed."""
    t = str(tmp_path / "tbl")
    s1 = snap.commit(_df(spark, range(4)), t)
    s2 = snap.merge_upsert(spark, _upd(spark, [(1, -1.0), (9, -9.0)]), t, key="id")
    s3 = snap.rollback(t, s1.snapshot_id)
    assert s3.delete_keys == {} and s3.dirs == ["data/snap-1"]
    assert _vals(snap.read(spark, t)) == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    ch = snap.read_changes(spark, t, s2.snapshot_id, s3.snapshot_id)
    assert sorted((r["id"], r["v"], r["_change_type"]) for r in ch.collect()) == [
        (1, -1.0, "delete"),
        (1, 1.0, "insert"),
        (9, -9.0, "delete"),
    ]
    # rolling forward again copies the merge's deletes back
    s4 = snap.rollback(t, s2.snapshot_id)
    assert s4.delete_keys == s2.delete_keys
    assert _vals(snap.read(spark, t))[1] == -1.0
    assert snap.read_changes(spark, t, s2.snapshot_id, s4.snapshot_id).count() == 0


def test_read_where_applies_deletes_of_pruned_merge_dir(spark, tmp_path):
    """The merge moves a row's value out of the queried range: plan_scan
    prunes the merge dir's file, yet its key still deletes the old
    in-range row. Building the read launches no job."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(10)).coalesce(1), t)
    snap.merge_upsert(spark, _upd(spark, [(3, 300.0)]).coalesce(1), t, key="id")
    preds = {"v": (0.0, 9.0)}
    kept, total = snap.plan_scan(t, preds)
    assert total == 2 and [k.rsplit("/", 1)[0] for k in kept] == ["data/snap-1"]
    sc = spark.sparkContext
    sc.setJobGroup("merged-read-build", "merged read build")
    try:
        got = snap.read_where(spark, t, preds)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("merged-read-build")) == []
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 4, 5, 6, 7, 8, 9]
    assert _vals(snap.read_where(spark, t, {"v": (100.0, None)})) == {3: 300.0}


def test_compact_folds_deletes(spark, tmp_path):
    """Compaction writes the live rows only: the compacted snapshot has no
    deletes, reads the same values, and profiles exactly again."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(6)), t)
    snap.merge_upsert(spark, _upd(spark, [(0, 50.0), (5, -5.0)]), t, key="id")
    before = _vals(snap.read(spark, t))
    assert snap.table_profile(t) == {}
    s3 = snap.compact(spark, t)
    assert s3.delete_keys == {} and s3.rows == 6
    assert _vals(snap.read(spark, t)) == before
    prof = snap.table_profile(t)
    assert prof["id"] == [0, 5, 0, 6]
    assert prof["v"] == [-5.0, 50.0, 0, 6]


def test_expire_and_compact_log_keep_delete_keys(spark, tmp_path):
    """Dropping log entries keeps the surviving snapshots' deletes, so
    the merged row still reads once, at its new value."""
    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    snap.commit(_df(spark, range(3, 6)), t)
    s3 = snap.merge_upsert(spark, _upd(spark, [(1, -1.0)]), t, key="id")
    assert snap.compact_log(t, keep_last=1) == 2
    assert snap.history(t)[-1].delete_keys == s3.delete_keys
    assert snap.expire(t, keep_last=1) == []
    assert snap.history(t)[-1].delete_keys == s3.delete_keys
    got = snap.read(spark, t)
    assert got.count() == 6 and _vals(got)[1] == -1.0
    # and a later append carries the deletes forward
    s4 = snap.commit(_df(spark, range(10, 12)), t)
    assert s4.delete_keys == s3.delete_keys
    assert _vals(snap.read(spark, t))[1] == -1.0


def test_compact_preserves_rows_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        snap.commit(_df(spark, range(lo, lo + 5)), t)
    head = snap.history(t)[-1]
    s4 = snap.compact(spark, t)
    assert s4.operation == "compact" and s4.dirs == ["data/snap-4"]
    assert s4.rows == 15  # snapshot.rows = rows this snapshot wrote
    assert sorted(r["id"] for r in snap.read(spark, t).collect()) == list(range(0, 5)) + list(range(10, 15)) + list(range(20, 25))
    # time travel across the compaction still resolves the old dir set
    assert snap.read(spark, t, head.snapshot_id).count() == 15
    # expire reclaims the compacted-away dirs
    deleted = snap.expire(t, keep_last=1)
    assert set(deleted) == {"data/snap-1", "data/snap-2", "data/snap-3"}
    assert snap.read(spark, t).count() == 15
    # compacting a single-dir table is a no-op returning the head
    assert snap.compact(spark, t).snapshot_id == s4.snapshot_id


def test_job_snapshot_resume_equals_single_shot(tmp_path, spark, run_job, bucket_waves):
    """--snapshots mode: crash-resume driven by the snapshot LOG (drop the
    last two committed snapshots = the data those waves wrote is gone
    from every reader's view) must reproduce the one-wave run exactly."""
    import json as _json

    def run(args):
        rc, out = run_job("run_turn_features", args)
        assert rc == 0
        return out

    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")
    r1 = run(["--generate", "30", "--output", single, "--buckets", "4", "--snapshots"])
    assert r1["waves"] == 1
    # one snapshot per wave, and each bucket its own wave: four snapshots
    with bucket_waves():
        r2 = run(["--generate", "30", "--output", resumed, "--buckets", "4", "--snapshots"])
    assert r2["waves"] == 4

    # simulate the crash: the last two snapshots never committed
    table = os.path.join(resumed, "features")
    log = os.path.join(table, "metadata", "snapshots.json")
    with open(log) as f:
        entries = _json.load(f)
    with open(log, "w") as f:
        _json.dump(entries[:2], f)

    r3 = run(
        ["--generate", "30", "--output", resumed, "--buckets", "4",
         "--snapshots", "--resume"]
    )
    assert r3["skipped"] == 2 and r3["waves"] == 1

    a = snap.read(spark, os.path.join(single, "features")).orderBy(
        "conv_id", "turn_idx"
    ).toPandas()
    b = snap.read(spark, table).orderBy("conv_id", "turn_idx").toPandas()
    assert len(a) == len(b) == r1["rows_written"]
    assert (a["text"].to_numpy() == b["text"].to_numpy()).all()
    import numpy as np

    np.testing.assert_allclose(
        a["text_len_z"].to_numpy(), b["text_len_z"].to_numpy(), rtol=1e-12
    )
    # the log carries per-bucket lineage for all four buckets, each once
    logged = [pid for s in snap.history(table) for pid in s.lineage["buckets"]]
    assert sorted(logged) == [f"bucket={i}" for i in range(4)]
    assert sum(
        n for s in snap.history(table) for n in s.lineage["buckets"].values()
    ) == r1["rows_written"]


def test_job_snapshot_resume_reads_per_bucket_lineage(tmp_path, spark, run_job, bucket_waves):
    """A log whose entries name one bucket each (``{"bucket": pid}``, rows
    the snapshot's), as the job wrote before it ran waves, resumes without
    appending its committed buckets again; an entry that names no bucket
    is refused."""
    import json as _json

    out = str(tmp_path / "out")
    argv = ["--generate", "30", "--output", out, "--buckets", "4", "--snapshots"]
    with bucket_waves():
        rc, r1 = run_job("run_turn_features", argv)
    assert rc == 0 and r1["waves"] == 4

    table = os.path.join(out, "features")
    log = os.path.join(table, "metadata", "snapshots.json")

    def rewrite(entries):
        with open(log, "w") as f:
            _json.dump(entries, f)

    with open(log) as f:
        entries = _json.load(f)
    for e in entries:
        (pid,) = e["lineage"]["buckets"]
        e["lineage"] = {"bucket": pid, "run_id": e["lineage"]["run_id"]}
    rewrite(entries[:2])  # the run died before its last two commits

    rc, r2 = run_job("run_turn_features", [*argv, "--resume"])
    assert rc == 0 and r2["skipped"] == 2 and r2["waves"] == 1
    got = snap.read(spark, table)
    assert got.count() == got.select("conv_id", "turn_idx").distinct().count() == r1["rows_written"]

    with open(log) as f:
        entries = _json.load(f)
    entries[0]["lineage"] = {}
    rewrite(entries)
    with pytest.raises(SystemExit, match="names no bucket"):
        run_job("run_turn_features", [*argv, "--resume"])


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    """Two drain runs over a growing file source commit each micro-batch
    as one snapshot; an epoch REPLAY (the at-least-once case foreachBatch
    must absorb) is a no-op."""
    src = str(tmp_path / "in")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _df(spark, range(10)).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = snap.snapshot_sink(stream, table, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()

    drain()
    n1 = snap.read(spark, table).count()
    assert n1 == 10
    _df(spark, range(10, 17)).write.mode("append").parquet(src)
    drain()  # resumes from the checkpoint: only the new wave commits
    assert snap.read(spark, table).count() == 17
    epochs = [s.lineage["epoch"] for s in snap.history(table)]
    assert len(epochs) == len(set(epochs))  # one snapshot per epoch

    # replay absorption: re-delivering an already-committed epoch no-ops
    before = snap.current_snapshot_id(table)
    assert snap.commit_epoch(_df(spark, range(999)), epochs[0], table) is None
    assert snap.current_snapshot_id(table) == before
    assert snap.read(spark, table).count() == 17

    # a third drain with nothing new commits nothing
    drain()
    assert snap.current_snapshot_id(table) == before


def test_writer_lock_blocks_second_writer(spark, tmp_path):
    """ADVICE r2: a concurrent log mutation must fail fast, not silently
    discard the in-flight writer's snapshot."""
    import json
    import time as _time

    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    lock = os.path.join(t, "metadata", "commit.lock")
    # simulate a LIVE concurrent writer (our own pid, fresh timestamp)
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": _time.time()}, f)
    try:
        with pytest.raises(snap.ConcurrentWriterError, match="single-writer"):
            snap.commit(_df(spark, range(3, 6)), t)
        with pytest.raises(snap.ConcurrentWriterError):
            snap.rollback(t, 1)
        with pytest.raises(snap.ConcurrentWriterError):
            snap.expire(t)
        with pytest.raises(snap.ConcurrentWriterError):
            snap.compact(spark, t)
        with pytest.raises(snap.ConcurrentWriterError):
            snap.merge_upsert(spark, _df(spark, range(2)), t, key="id")
    finally:
        os.unlink(lock)
    # lock gone -> writes proceed, and the lock self-cleans afterward
    snap.commit(_df(spark, range(3, 6)), t)
    assert snap.read(spark, t).count() == 6
    assert not os.path.exists(lock)


def test_writer_lock_reclaims_stale(spark, tmp_path):
    """A crashed writer (dead pid / ancient ts) must not wedge the table."""
    import json

    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(3)), t)
    lock = os.path.join(t, "metadata", "commit.lock")
    # dead pid and ancient timestamp: both staleness conditions at once
    with open(lock, "w") as f:
        json.dump({"pid": 2**22 + 12345, "ts": 0.0}, f)
    s = snap.commit(_df(spark, range(3, 6)), t)  # reclaims, proceeds
    assert s.snapshot_id == 2
    assert not os.path.exists(lock)


def test_read_changes_append_merge_compact(spark, tmp_path):
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id bigint, val string"
    )
    s1 = snap.commit(base, t)
    s2 = snap.commit(
        spark.createDataFrame([(10, "v10"), (11, "v11")], "id bigint, val string"), t
    )
    # pure append: inserts only, and the s1 dir is never part of the diff
    ch = snap.read_changes(spark, t, s1.snapshot_id, s2.snapshot_id)
    rows = sorted((r["id"], r["val"], r["_change_type"]) for r in ch.collect())
    assert rows == [(10, "v10", "insert"), (11, "v11", "insert")]

    # merge: updated key -> delete(old)+insert(new); new key -> insert;
    # of the carried dir only the merge's keys are compared
    upd = spark.createDataFrame([(3, "V3"), (12, "v12")], "id bigint, val string")
    s3 = snap.merge_upsert(spark, upd, t, key="id")
    ch = snap.read_changes(spark, t, s2.snapshot_id, s3.snapshot_id)
    rows = sorted((r["id"], r["val"], r["_change_type"]) for r in ch.collect())
    assert rows == [
        (3, "V3", "insert"),
        (3, "v3", "delete"),
        (12, "v12", "insert"),
    ]

    # compaction reshuffles bytes, zero logical changes
    s4 = snap.compact(spark, t)
    ch = snap.read_changes(spark, t, s3.snapshot_id, s4.snapshot_id)
    assert ch.count() == 0
    assert ch.columns[-1] == "_change_type"

    # default to_snapshot = current head; span s1 -> head nets everything
    ch = snap.read_changes(spark, t, s1.snapshot_id)
    rows = sorted((r["id"], r["val"], r["_change_type"]) for r in ch.collect())
    assert (3, "v3", "delete") in rows and (3, "V3", "insert") in rows
    assert (10, "v10", "insert") in rows and (12, "v12", "insert") in rows
    assert len([r for r in rows if r[2] == "delete"]) == 1

    # unknown ids refused
    import pytest

    with pytest.raises(KeyError):
        snap.read_changes(spark, t, 99)


# ---------------------------------------------------------------------------
# file-level column stats + data skipping
# ---------------------------------------------------------------------------


def test_commit_collects_file_stats(spark, tmp_path):
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "stats")
    df = spark.createDataFrame(
        [(i, float(i) * 2.0, f"k{i:03d}") for i in range(100)],
        "id bigint, v double, name string",
    ).repartitionByRange(4, "id")
    s = snap.commit(df, t)
    assert len(s.stats) == 4
    # every file's recorded [min,max] brackets its actual rows, and the
    # per-file ranges are disjoint (range-clustered write)
    ranges = []
    for rel, cols in s.stats.items():
        got = spark.read.parquet(f"{t}/{rel}").agg(
            F.min("id"), F.max("id"), F.min("name"), F.max("name")
        ).collect()[0]
        assert cols["id"][0] == got[0] and cols["id"][1] == got[1]
        assert cols["name"][0] == got[2] and cols["name"][1] == got[3]
        assert cols["id"][2] == 0  # null count
        ranges.append((cols["id"][0], cols["id"][1]))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo


def test_plan_scan_prunes_read_where_exact(spark, tmp_path):
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "prune")
    df = spark.createDataFrame(
        [(i, float(i % 7), f"g{i % 3}") for i in range(1000)],
        "id bigint, v double, grp string",
    ).repartitionByRange(8, "id")
    snap.commit(df, t)
    kept, total = snap.plan_scan(t, {"id": (100, 220)})
    assert total == 8 and 1 <= len(kept) <= 3
    got = snap.read_where(spark, t, {"id": (100, 220)})
    exp = df.where((F.col("id") >= 100) & (F.col("id") <= 220))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # string pruning
    kept_s, total_s = snap.plan_scan(t, {"grp": ("g2", "g2")})
    assert total_s == 8 and len(kept_s) == 8  # every file holds g0..g2
    # one-sided bounds
    kept_lo, _ = snap.plan_scan(t, {"id": (900, None)})
    assert 1 <= len(kept_lo) <= 2
    # out-of-range: nothing kept, empty frame with table schema
    kept0, _ = snap.plan_scan(t, {"id": (10_000, None)})
    assert kept0 == []
    empty = snap.read_where(spark, t, {"id": (10_000, None)})
    assert empty.count() == 0 and empty.columns == ["id", "v", "grp"]


def test_plan_scan_null_and_unknown_columns(spark, tmp_path):
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "nulls")
    # one file all-null in v, one with values; array col has no stats
    a = spark.createDataFrame(
        [(i, None, [1.0, 2.0]) for i in range(10)],
        "id bigint, v double, emb array<double>",
    ).coalesce(1)
    b = spark.createDataFrame(
        [(i, float(i), [3.0]) for i in range(10, 20)],
        "id bigint, v double, emb array<double>",
    ).coalesce(1)
    snap.commit(a, t)
    s = snap.commit(b, t)
    kept, total = snap.plan_scan(t, {"v": (0.0, 100.0)})
    assert total == 2 and len(kept) == 1  # all-null file pruned
    got = snap.read_where(spark, t, {"v": (0.0, 100.0)})
    assert got.count() == 10
    # column without stats (nested/list): conservative keep-everything
    kept_u, total_u = snap.plan_scan(t, {"emb": (0.0, None)})
    assert len(kept_u) == total_u == 2
    # stats survive the JSON log round-trip
    reloaded = snap.history(t)[-1]
    assert reloaded.snapshot_id == s.snapshot_id and reloaded.stats


def test_read_where_timestamps_and_merge(spark, tmp_path):
    import datetime as dt

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "tsprune")
    base = dt.datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i), float(i)) for i in range(600)],
        "id bigint, ts timestamp, v double",
    ).repartitionByRange(6, "ts")
    snap.commit(df, t)
    lo, hi = base + dt.timedelta(minutes=100), base + dt.timedelta(minutes=199)
    kept, total = snap.plan_scan(t, {"ts": (lo, hi)})
    assert total == 6 and 1 <= len(kept) <= 2
    got = snap.read_where(spark, t, {"ts": (lo, hi)})
    assert got.count() == 100
    # after a merge the update dir has its own stats; pruning stays exact
    upd = spark.createDataFrame(
        [(5, base + dt.timedelta(minutes=5), 99.0)], "id bigint, ts timestamp, v double"
    )
    snap.merge_upsert(spark, upd, t, key="id")
    got2 = snap.read_where(spark, t, {"ts": (lo, hi)})
    assert got2.count() == 100
    kept2, total2 = snap.plan_scan(t, {"ts": (lo, hi)})
    assert len(kept2) < total2


def test_table_profile_zero_scan(spark, tmp_path):
    """table_profile aggregates the log's per-file stats into per-column
    (min, max, nulls, rows) matching the real data — including nulls,
    timestamps, and post-merge snapshots once compacted (a merge's deletes
    leave no exact profile until then)."""
    import datetime as dt

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "profile")
    base = dt.datetime(2024, 7, 1)
    df = spark.createDataFrame(
        [
            (i, base + dt.timedelta(minutes=i), float(i) if i % 4 else None)
            for i in range(200)
        ],
        "id bigint, ts timestamp, v double",
    ).repartition(4)
    snap.commit(df, t)
    prof = snap.table_profile(t)
    assert prof["id"][:2] == [0, 199]
    assert prof["id"][2] == 0 and prof["id"][3] == 200
    assert prof["v"][2] == 50 and prof["v"][3] == 200  # i % 4 == 0 nulls
    assert prof["v"][:2] == [1.0, 199.0]  # 0 is null, so min is 1.0
    # timestamps come back in the log's order-preserving encoding
    assert prof["ts"][0] == {"ts": base.replace(tzinfo=dt.timezone.utc).timestamp()}
    # a merge's deletes leave no exact profile; compacting restores it
    # with the merge folded in (new max)
    upd = spark.createDataFrame(
        [(500, base + dt.timedelta(days=2), 999.0)], "id bigint, ts timestamp, v double"
    )
    snap.merge_upsert(spark, upd, t, key="id")
    assert snap.table_profile(t) == {}
    snap.compact(spark, t)
    prof2 = snap.table_profile(t)
    assert prof2["id"][1] == 500 and prof2["v"][1] == 999.0
    assert prof2["id"][3] == 201


def test_additive_schema_evolution(spark, tmp_path):
    """evolve=True appends a frame with NEW columns without rewriting
    history: old files read the new columns as NULL, time travel keeps
    the old shape, and non-additive changes stay rejected."""
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(i, float(i)) for i in range(10)], "id bigint, v double")
    s1 = snap.commit(v1, t)
    wide = spark.createDataFrame(
        [(100 + i, float(i), f"t{i}") for i in range(5)],
        "id bigint, v double, tag string",
    )
    # without evolve: rejected
    with pytest.raises(ValueError, match="evolve=True"):
        snap.commit(wide, t)
    s2 = snap.commit(wide, t, evolve=True)
    got = snap.read(spark, t)
    assert set(got.columns) == {"id", "v", "tag"}
    assert got.count() == 15
    assert got.where("tag IS NULL").count() == 10  # historical rows
    assert got.where("tag IS NOT NULL").count() == 5
    # time travel to the pre-evolution snapshot keeps the narrow shape
    old = snap.read(spark, t, s1.snapshot_id)
    assert set(old.columns) == {"id", "v"}
    # further homogeneous appends at the NEW schema need no flag
    snap.commit(wide.withColumn("id", F.col("id") + 1000), t)
    assert snap.read(spark, t).count() == 20
    # type change / drop: still rejected even with evolve
    retyped = spark.createDataFrame([(1, 1, "x")], "id bigint, v bigint, tag string")
    with pytest.raises(ValueError, match="schema mismatch"):
        snap.commit(retyped, t, evolve=True)
    dropped = spark.createDataFrame([(1,)], "id bigint")
    with pytest.raises(ValueError, match="schema mismatch"):
        snap.commit(dropped, t, evolve=True)
    # pruning on the evolved column: old files have no stats for it ->
    # conservatively kept; new files prune normally
    kept, total = snap.plan_scan(t, {"id": (1100, None)})
    assert 0 < len(kept) < total


def test_plan_scan_never_lists_filesystem(spark, tmp_path, monkeypatch):
    """For a stats-complete table, query planning is pure log metadata:
    zero os.listdir calls (on object storage: zero LIST requests). The
    dir-level envelope skips whole directories before their file entries
    are even scanned."""
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    t = str(tmp_path / "nolist")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1_000)], "id bigint, v double"
    ).repartitionByRange(4, "id")
    snap.commit(df, t)
    # second snapshot: a disjoint id range in its own dir — the dir-level
    # envelope must prune it wholesale for a low-range predicate
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(50_000, 51_000)], "id bigint, v double"
    ).repartitionByRange(4, "id")
    snap.commit(df2, t)

    calls = []
    real_listdir = os.listdir

    def spy(path):
        calls.append(path)
        return real_listdir(path)

    monkeypatch.setattr(
        "acoustic_feature_extractor_spark.sources.snapshots.os.listdir", spy
    )
    kept, total = snap.plan_scan(t, {"id": (100, 220)})
    assert calls == [], f"planning touched the filesystem: {calls}"
    assert total == 8 and 1 <= len(kept) <= 2
    assert all("snap-1/" in f for f in kept)  # snap-2's dir fully skipped


def test_statless_file_recorded_and_kept(spark, tmp_path):
    """A file whose columns yield NO coverable stats (writer omitting
    min/max) must still get a log entry — an EMPTY cols dict — because the
    pure-log planner rebuilds each dir's file list from the stats keys; an
    omitted file would be silently EXCLUDED from every pruned read instead
    of conservatively kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from acoustic_feature_extractor_spark.sources.snapshots import _collect_file_stats

    d = tmp_path / "data" / "snap-1"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"id": [1, 2], "v": [1.0, 2.0]}), str(d / "a.parquet"))
    pq.write_table(
        pa.table({"id": [3, 4], "v": [3.0, 4.0]}),
        str(d / "b.parquet"),
        write_statistics=False,
    )
    stats = _collect_file_stats(str(tmp_path), "data/snap-1")
    assert stats["data/snap-1/a.parquet"]  # normal file: real stats
    assert stats["data/snap-1/b.parquet"] == {}  # recorded, nothing coverable


def test_planner_keeps_statless_file(spark, tmp_path):
    """plan_scan / read_where with a log entry whose cols dict is empty:
    the file cannot be pruned by any predicate (conservative keep at both
    dir and file level) and its rows survive the pruned read."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id bigint, v double"
    ).repartitionByRange(4, "id")
    snap.commit(df, t)
    snaps = snap._load_log(t)
    statless = sorted(snaps[-1].stats)[0]  # lowest-range file
    snaps[-1].stats[statless] = {}  # simulate an uncoverable writer
    snap._publish_log(t, snaps)
    kept, total = snap.plan_scan(t, {"id": (90, None)})
    assert statless in kept  # conservative keep despite being out of range
    assert len(kept) < total  # other files still prune
    assert snap.read_where(spark, t, {"id": (90, None)}).count() == 10


def test_read_where_merges_evolved_schemas(spark, tmp_path):
    """ADVICE r3: a pruned read whose keep-set spans dirs written under
    different (additive) schemas must return the logged columns like
    read() does — otherwise an arbitrary file's schema wins and the
    evolved column is silently absent."""
    t = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(i, float(i)) for i in range(10)], "id bigint, v double")
    snap.commit(v1, t)
    wide = spark.createDataFrame(
        [(100 + i, float(i), f"t{i}") for i in range(5)],
        "id bigint, v double, tag string",
    )
    snap.commit(wide, t, evolve=True)
    got = snap.read_where(spark, t, {"id": (5, 102)})
    assert set(got.columns) == {"id", "v", "tag"}
    assert got.count() == 8  # ids 5..9 + 100..102
    assert got.where("tag IS NULL").count() == 5  # historical rows as NULL


def test_read_where_scans_exactly_the_keep_set(spark, tmp_path):
    """VERDICT r3 #6a: the pruned read's PHYSICAL scan opens exactly the
    files plan_scan keeps — not the whole table with a filter on
    top. inputFiles() is the executed scan's file list."""
    t = str(tmp_path / "exact")
    df = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(2000)], "id bigint, v double"
    ).repartitionByRange(8, "id")
    snap.commit(df, t)
    preds = {"id": (400, 700)}
    kept, total = snap.plan_scan(t, preds)
    assert 1 <= len(kept) < total
    got = snap.read_where(spark, t, preds)
    scanned = {os.path.relpath(f.replace("file:", ""), t) for f in got.inputFiles()}
    assert scanned == set(kept), (sorted(scanned), sorted(kept))
    # and the residual filter still lands on the pruned scan
    assert got.count() == 301


def test_zorder_read_applies_both_residual_filters(spark, tmp_path):
    """VERDICT r3 #6c: a two-column pruned read over a z-ordered table
    must (1) prune on BOTH columns' file stats and (2) apply BOTH
    residual range filters — values equal the brute-force filter, and the
    executed plan carries both predicates down to the scan."""
    from acoustic_feature_extractor_spark.sources.layout import zorder_layout

    t = str(tmp_path / "zx")
    df = spark.createDataFrame(
        [(i, float(i % 100), float((i * 7) % 100)) for i in range(5000)],
        "id bigint, x double, y double",
    )
    snap.commit(zorder_layout(df, ["x", "y"], n_files=16), t)
    preds = {"x": (10.0, 30.0), "y": (40.0, 60.0)}
    kept, total = snap.plan_scan(t, preds)
    assert total == 16 and len(kept) < total  # both dims prune
    got = snap.read_where(spark, t, preds)
    exp = df.where("x BETWEEN 10.0 AND 30.0 AND y BETWEEN 40.0 AND 60.0")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    for col in ("x", "y"):
        assert f"{col}#" in plan and "Filter" in plan
    # all four residual bounds survive to the executed plan (the scan's
    # PushedFilters list is truncated in toString, so assert the Filter
    # node, plus the untruncated head of the pushed list)
    import re

    low = plan.replace(" ", "").lower()
    for pat in (r"x#\d+>=10\.0", r"x#\d+<=30\.0", r"y#\d+>=40\.0", r"y#\d+<=60\.0"):
        assert re.search(pat, low), (pat, low[:1500])
    assert "greaterthanorequal(x,10.0)" in low  # pushed down to parquet


_ID_V = StructType([StructField("id", LongType()), StructField("v", DoubleType())])


def _synthetic_log(t: str, n_snaps: int, files_per: int = 10) -> None:
    """Publish a log as n_snaps append commits would have (one dir each,
    files_per files with id-range stats) without paying n_snaps Spark
    writes — planner behavior depends only on the log (the zero-LIST
    property test_plan_scan_never_lists_filesystem pins)."""
    snaps, dirs = [], []
    for sid in range(1, n_snaps + 1):
        rel = f"data/snap-{sid}"
        dirs = [*dirs, rel]
        base = (sid - 1) * files_per * 100
        stats = {
            f"{rel}/part-{i:05d}.parquet": {
                "id": [base + i * 100, base + i * 100 + 99, 0, 100],
                "v": [0.0, 1.0, 0, 100],
            }
            for i in range(files_per)
        }
        snaps.append(
            snap.Snapshot(
                snapshot_id=sid, parent_id=sid - 1 or None, operation="append",
                dirs=dirs, rows=100 * files_per * sid,
                schema=_ID_V.jsonValue(), wall_ts=float(sid),
                stats=stats,
            )
        )
    snap._publish_log(t, snaps)


def test_compacted_log_bounded_planning_thousand_snapshots(tmp_path, monkeypatch):
    """VERDICT r3 #7: after 1,000 commits, (a) the planner index is built
    ONCE per log version (the second plan_scan parses nothing), (b)
    compact_log folds 999 entries away while planning results stay
    IDENTICAL, and (c) the compacted log is a fraction of the full one —
    planning cost tracks live files, not table history."""
    t = str(tmp_path / "big")
    _synthetic_log(t, 1000, files_per=10)

    parses = {"n": 0}
    real_load = snap._load_log

    def counting_load(path):
        parses["n"] += 1
        return real_load(path)

    monkeypatch.setattr(snap, "_load_log", counting_load)
    snap._PLAN_CACHE.clear()
    preds = {"id": (123_450, 123_700), "v": (0.0, 0.5)}
    kept_full, total_full = snap.plan_scan(t, preds)
    assert total_full == 10_000 and 1 <= len(kept_full) <= 4
    assert parses["n"] == 1
    for _ in range(5):  # warm calls: zero log parses
        k2, t2 = snap.plan_scan(t, preds)
        assert (k2, t2) == (kept_full, total_full)
    assert parses["n"] == 1

    size_full = os.path.getsize(snap._log_path(t))
    assert snap.compact_log(t) == 999
    kept_c, total_c = snap.plan_scan(t, preds)  # new log version: re-plan
    assert (kept_c, total_c) == (kept_full, total_full)
    # 3 = initial parse + compact_log's own read + one re-plan parse
    assert parses["n"] == 3
    size_c = os.path.getsize(snap._log_path(t))
    assert size_c < 0.7 * size_full, (size_c, size_full)
    assert len(snap.history(t)) == 1
    # idempotent: nothing left to fold, no republish
    assert snap.compact_log(t) == 0


def test_expire_preserves_pruning_stats_and_evolved_reads(spark, tmp_path):
    """expire() used to drop the log entries that carried still-live dirs'
    file stats: pruned reads silently degraded to keep-everything. The
    stats must survive entry expiry, and a pruned read of the evolved
    table still returns the logged columns."""
    t = str(tmp_path / "exp")
    v1 = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id bigint, v double"
    ).repartitionByRange(4, "id")
    snap.commit(v1, t)
    wide = spark.createDataFrame(
        [(1000 + i, float(i), f"t{i}") for i in range(10)],
        "id bigint, v double, tag string",
    )
    snap.commit(wide, t, evolve=True)
    kept_before, total_before = snap.plan_scan(t, {"id": (0, 30)})
    assert total_before > 1 and 1 <= len(kept_before) < total_before

    snap.expire(t, keep_last=1)
    snap._PLAN_CACHE.clear()
    kept_after, total_after = snap.plan_scan(t, {"id": (0, 30)})
    assert (kept_after, total_after) == (kept_before, total_before)
    # old files still surface the evolved column as NULL
    got = snap.read_where(spark, t, {"id": (0, 2000)})
    assert set(got.columns) == {"id", "v", "tag"}
    assert got.where("tag IS NULL").count() == 100


# ---------------------------------------------------------------------------
# every read is at the logged schema (additively evolved tables)
# ---------------------------------------------------------------------------


def _evolved(spark, t):
    """(k, v) rows k=0..5 in snap-1, then (k, v, extra) rows k=10..12
    appended with evolve=True in snap-2."""
    snap.commit(
        spark.createDataFrame([(i, float(i)) for i in range(6)], "k bigint, v double"), t
    )
    snap.commit(
        spark.createDataFrame(
            [(10 + i, float(10 + i), f"e{i}") for i in range(3)],
            "k bigint, v double, extra string",
        ),
        t,
        evolve=True,
    )


def test_compact_keeps_evolved_columns(spark, tmp_path):
    """Compaction of an evolved table must keep the evolved column: read
    with one footer's schema, the compacted dir lost ``extra`` while the
    log still listed it, and the row-count check could not notice."""
    t = str(tmp_path / "evolved")
    _evolved(spark, t)
    s3 = snap.compact(spark, t)
    written = spark.read.parquet(os.path.join(t, s3.dirs[0]))
    assert written.columns == ["k", "v", "extra"]
    got = {r["k"]: r["extra"] for r in written.collect()}
    assert got == {**{i: None for i in range(6)}, 10: "e0", 11: "e1", 12: "e2"}
    assert s3.schema == snap.history(t)[-2].schema


def test_merge_upsert_into_evolved_table(spark, tmp_path):
    """A merge of keys that live in a dir older than the evolution: the
    read applies the deletes to that dir at the head's schema, so its
    rows union with the updates column for column. The CDC scan of that
    merge compares the old-schema dir at the new schema too."""
    t = str(tmp_path / "evolved")
    _evolved(spark, t)
    upd = spark.createDataFrame(
        [(1, -1.0, "u1"), (99, -99.0, None)], "k bigint, v double, extra string"
    )
    s3 = snap.merge_upsert(spark, upd, t, key="k")
    assert s3.lineage["rewritten_dirs"] == []
    assert s3.dirs == ["data/snap-1", "data/snap-2", "data/snap-3"]
    assert s3.rows == 2
    got = {r["k"]: (r["v"], r["extra"]) for r in snap.read(spark, t).collect()}
    assert len(got) == 10
    assert got[1] == (-1.0, "u1") and got[99] == (-99.0, None)
    assert got[0] == (0.0, None) and got[10] == (10.0, "e0")
    ch = snap.read_changes(spark, t, 2, s3.snapshot_id)
    rows = sorted((r["k"], r["v"], str(r["extra"]), r["_change_type"]) for r in ch.collect())
    assert rows == [
        (1, -1.0, "u1", "insert"),
        (1, 1.0, "None", "delete"),
        (99, -99.0, "None", "insert"),
    ]


def test_merge_upsert_survivors_from_two_older_schemas(spark, tmp_path):
    """Merged keys live in dirs written under two older schemas, neither
    of them the head's: merging their footer schemas would still lack the
    newest column, so the rows that survive the deletes are read at the
    logged head schema."""
    t = str(tmp_path / "evolved")
    _evolved(spark, t)
    snap.commit(
        spark.createDataFrame(
            [(20, 20.0, "e20", 1)], "k bigint, v double, extra string, n int"
        ),
        t,
        evolve=True,
    )
    upd = spark.createDataFrame(
        [(1, -1.0, "u1", 7), (11, -11.0, "u11", 8)],
        "k bigint, v double, extra string, n int",
    )
    s4 = snap.merge_upsert(spark, upd, t, key="k")
    assert s4.lineage["rewritten_dirs"] == []
    assert s4.dirs == ["data/snap-1", "data/snap-2", "data/snap-3", "data/snap-4"]
    assert s4.rows == 2
    got = {r["k"]: (r["extra"], r["n"]) for r in snap.read(spark, t).collect()}
    assert len(got) == 10
    assert got[1] == ("u1", 7) and got[11] == ("u11", 8)
    assert got[0] == (None, None) and got[10] == ("e0", None) and got[20] == ("e20", 1)


def test_read_where_old_schema_dirs_returns_logged_columns(spark, tmp_path):
    """A pruned read whose keep-set lies only in pre-evolution dirs has
    one writer schema, yet returns the logged columns with NULLs, as
    read() does."""
    t = str(tmp_path / "evolved")
    _evolved(spark, t)
    kept, _ = snap.plan_scan(t, {"k": (0, 5)})
    assert {f.rsplit("/", 1)[0] for f in kept} == {"data/snap-1"}
    got = snap.read_where(spark, t, {"k": (0, 5)})
    assert got.columns == snap.read(spark, t).columns == ["k", "v", "extra"]
    assert got.count() == 6 and got.where("extra IS NULL").count() == 6


def test_single_schema_read_launches_no_job(spark, tmp_path):
    """With the schema taken from the log, building a read (plain, at an
    older snapshot, or pruned) infers nothing from parquet footers — also
    for a column name and types the simpleString form cannot round-trip
    (``a:b``, nested types, decimals, ``timestamp_ntz``): the log keeps
    the schema as JSON."""
    import datetime
    from decimal import Decimal

    t = str(tmp_path / "tbl")
    snap.commit(_df(spark, range(5)), t)
    snap.commit(_df(spark, range(10, 15)), t)
    odd_t = str(tmp_path / "odd")
    odd = spark.createDataFrame(
        [(i, [i, i + 1], (i, f"s{i}"), Decimal(f"{i}.25"), datetime.datetime(2024, 1, 1, i))
         for i in range(1, 4)],
        "`a:b` bigint, arr array<int>, st struct<x:int,`y z`:string>, "
        "d decimal(10,2), tn timestamp_ntz",
    )
    snap.commit(odd.where("`a:b` < 3"), odd_t)
    snap.commit(odd.where("`a:b` = 3"), odd_t)
    assert StructType.fromJson(snap.history(odd_t)[-1].schema) == odd.schema
    sc = spark.sparkContext
    group = "snapshot-read-build"
    sc.setJobGroup(group, "snapshot read build")
    try:
        dfs = [
            snap.read(spark, t),
            snap.read(spark, t, 1),
            snap.read_where(spark, t, {"id": (11, None)}),
        ]
        odd_dfs = [
            snap.read(spark, odd_t),
            snap.read(spark, odd_t, 1),
            snap.read_where(spark, odd_t, {"a:b": (3, None)}),
        ]
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [d.columns for d in dfs] == [["id", "v"]] * 3
    assert [d.schema.simpleString() for d in odd_dfs] == [odd.schema.simpleString()] * 3
    assert [sorted(r["a:b"] for r in d.collect()) for d in odd_dfs] == [[1, 2, 3], [1, 2], [3]]
    assert odd_dfs[2].first()["st"]["y z"] == "s3"


def test_merge_across_evolve_append(spark, tmp_path):
    """A merge, an evolve=True append, then a second merge of keys from
    the base dir and from the first merge dir: the old-schema merge dir
    is read at the new schema, its row is deleted by the second merge, and
    the CDC scan compares column for column."""
    t = str(tmp_path / "tbl")
    snap.commit(
        spark.createDataFrame([(i, float(i)) for i in range(4)], "k bigint, v double"), t
    )
    snap.merge_upsert(
        spark, spark.createDataFrame([(1, -1.0)], "k bigint, v double"), t, key="k"
    )
    s3 = snap.commit(
        spark.createDataFrame([(10, 10.0, "e")], "k bigint, v double, extra string"),
        t,
        evolve=True,
    )
    assert s3.delete_keys == {"data/snap-2": ["k"]}
    upd = spark.createDataFrame(
        [(1, -11.0, "u1"), (2, -2.0, "u2")], "k bigint, v double, extra string"
    )
    s4 = snap.merge_upsert(spark, upd, t, key="k")
    got = {r["k"]: (r["v"], r["extra"]) for r in snap.read(spark, t).collect()}
    assert got == {
        0: (0.0, None), 1: (-11.0, "u1"), 2: (-2.0, "u2"), 3: (3.0, None), 10: (10.0, "e")
    }
    ch = snap.read_changes(spark, t, s3.snapshot_id, s4.snapshot_id)
    rows = sorted((r["k"], r["v"], str(r["extra"]), r["_change_type"]) for r in ch.collect())
    assert rows == [
        (1, -11.0, "u1", "insert"),
        (1, -1.0, "None", "delete"),
        (2, -2.0, "u2", "insert"),
        (2, 2.0, "None", "delete"),
    ]


def test_decimal_stats_prune(spark, tmp_path):
    """Decimal columns carry stats — INT32-, INT64- and
    FIXED_LEN_BYTE_ARRAY-backed alike, logged as exact ``{"dec": str}``
    — so plan_scan prunes a decimal range and table_profile covers them."""
    from decimal import Decimal

    t = str(tmp_path / "dec")
    df = spark.createDataFrame(
        [(i, Decimal(i) / 4, Decimal(i) / 4, Decimal(i) / 4) for i in range(100)],
        "id bigint, a decimal(5,2), d decimal(10,2), w decimal(22,2)",
    ).repartitionByRange(4, "id")
    s = snap.commit(df, t)
    for rel, cols in s.stats.items():
        got = spark.read.parquet(f"{t}/{rel}").agg(F.min("d"), F.max("d")).first()
        for c in ("a", "d", "w"):
            assert cols[c][:2] == [{"dec": str(got[0])}, {"dec": str(got[1])}], (c, cols)
    preds = {"d": (Decimal("8.00"), Decimal("9.00"))}
    kept, total = snap.plan_scan(t, preds)
    assert total == 4 and len(kept) == 1
    got = snap.read_where(spark, t, preds)
    assert sorted(r["id"] for r in got.collect()) == list(range(32, 37))
    assert snap.plan_scan(t, {"w": (Decimal("30"), None)})[0] == []
    assert snap.table_profile(t)["a"] == [{"dec": "0.00"}, {"dec": "24.75"}, 0, 100]
