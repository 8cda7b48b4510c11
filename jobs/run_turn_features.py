"""Resumable flagship pipeline job — the engine's production entrypoint.

Launch (cluster or sandbox)::

    zip -r afe.zip acoustic_feature_extractor_spark
    spark-submit --master local[32] --py-files afe.zip \
        jobs/run_turn_features.py --input /data/transcripts --output /data/features

or equivalently ``python jobs/run_turn_features.py ...`` in the sandbox.

Execution model (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"):

- the conversation space is split into ``--buckets`` hash buckets
  (``pmod(xxhash64(conv_id), K)``); conversations never straddle buckets,
  so every engine op (windows, sessionization, fill, as-of) is exact
  within a bucket — the bucket is the unit of checkpointing and resume.
- one staging scan reads the input once: a map-only write (no shuffle)
  saves it as ``<output>/_staging/_bucket=<b>/``. An ``Observation`` on
  that write yields the corpus statistics of ``length(text)`` (the
  ``corpus_stats`` aggregates) and the staged row count without a job of
  their own; both are frozen into the manifest (``_frozen_stats``,
  ``_staged_rows``) so resumed buckets normalize against identical stats
  (no leakage between restart and original run). A bucket no
  conversation hashes to has no staging dir and is recorded with 0 rows.
- the pending buckets run in waves, the unit of work. Walking them in
  bucket order, a wave closes when the next bucket's staged bytes (read
  from the file system, no job) would push it past one read split per
  core: ``defaultParallelism × spark.sql.files.maxPartitionBytes``. A
  bucket larger than that is a wave of its own. Each wave is one Spark
  query: it reads its buckets' staging dirs (``_bucket`` arrives as the
  partition column), builds ``turn_features`` once, and one write commits
  every bucket of the wave as ``<output>/bucket=<i>/`` (dynamic partition
  overwrite: ``_manifest``, ``_staging`` and the buckets of other waves
  are left alone, a stale dir of a wave's own bucket is replaced). An
  ``Observation`` on that write counts each bucket's rows. Only after
  the write commits are the wave's buckets recorded, each with its rows
  and the wave's wall time, in ``<output>/_manifest/manifest.json`` (the
  reference's ``arguments.json`` provenance generalized, see
  ``plans/lineage.py``), and the manifest saved. Two waves
  (``WAVES_IN_FLIGHT``) run at once, so the next wave's plan and scan use
  the cores that one wave's straggling window tasks and commit leave
  idle; run one after another, several waves were slower than one query
  per bucket from a thread pool. A killed run loses at most the waves in
  flight: two, each about one read split per core of staged input, or a
  single bucket.
- ``--resume`` skips buckets already present in the manifest (the
  Iceberg-snapshot analog for the parquet backend). It re-stages only
  when buckets are pending and ``_staging/_SUCCESS`` is missing, and the
  frozen stats always win over re-observed ones. ``_staging``, and any
  ``.spark-staging-*`` dir a killed wave left behind, is deleted once
  every bucket is recorded.
- the run exits non-zero when the recorded bucket rows, resumed ones
  included, do not sum to ``_staged_rows``.
- ``--snapshots`` commits each wave as one append snapshot instead, with
  lineage ``{"buckets": {"bucket=<i>": rows, ...}, "run_id": ...}``. Its
  waves run one at a time: the log is single-writer, and a commit holds
  the writer lock through its data write. Resume reads the committed
  buckets from the log, whose older entries may name one bucket each
  (``{"bucket": "bucket=<i>"}``, its rows the snapshot's); it refuses a
  log entry that names no bucket.

The final metrics line (one JSON object on stdout) reports the rows
written, the waves run and aggregate turns/sec; the manifest holds the
per-bucket lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import IntegerType, StructField, StructType  # noqa: E402

# waves run at once: the next wave's build, plan and scan use the cores
# that one wave's straggling window tasks and commit leave idle
WAVES_IN_FLIGHT = 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcripts parquet path (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--generate", type=int, default=0, help="generate N synthetic conversations instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--gap-seconds", type=float, default=300.0)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--snapshots",
        action="store_true",
        help="commit each wave as an append snapshot into <output>/features "
        "(snapshot-log checkpointing: resume reads the committed-bucket set "
        "from the log, so a crash between data write and manifest save can "
        "never double-write or skip a bucket) instead of bucket=<i>/ dirs",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from acoustic_feature_extractor_spark.plans.lineage import RunManifest
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features
    from acoustic_feature_extractor_spark.session import get_spark

    spark = get_spark(app_name="afe_run_turn_features", cores=args.cores)

    if args.generate:
        from acoustic_feature_extractor_spark.datagen import generate_transcripts

        t = generate_transcripts(spark, n_convs=args.generate)
    else:
        if not args.input:
            ap.error("--input or --generate required")
        t = spark.read.parquet(args.input)

    manifest_dir = os.path.join(args.output, "_manifest")
    snap_table = os.path.join(args.output, "features")
    staging = os.path.join(args.output, "_staging")
    prev = RunManifest.load(manifest_dir) if args.resume else None
    if prev is not None:
        # a resumed run MUST partition identically: mismatched buckets /
        # gap / input would silently skip or mis-normalize conversations
        for k in ("buckets", "gap_seconds", "input", "generate"):
            old_v, new_v = (prev.args or {}).get(k), vars(args).get(k)
            if old_v is not None and str(old_v) != str(new_v):
                raise SystemExit(
                    f"--resume argument mismatch: manifest has {k}={old_v}, "
                    f"this run has {k}={new_v}; rerun with matching arguments "
                    f"or a fresh --output"
                )

    run_id = f"run-{int(time.time())}"
    manifest = RunManifest(run_id=run_id, args=vars(args))
    frozen = {}
    if prev is not None:
        manifest.partitions = list(prev.partitions)
        frozen = {k: prev.args[k] for k in ("_frozen_stats", "_staged_rows") if k in prev.args}
    if args.snapshots:
        from acoustic_feature_extractor_spark.sources import snapshots as snaplog

        # the snapshot LOG is the source of truth for completed buckets:
        # an entry exists iff its wave's data committed atomically. Keep
        # the lineage the log still vouches for, and the empty buckets,
        # which commit nothing; a bucket whose commit landed but whose
        # manifest save was lost is recorded from the log.
        logged = {}
        for s in snaplog.history(snap_table) if args.resume else []:
            if "buckets" in s.lineage:
                logged.update(s.lineage["buckets"])
            elif "bucket" in s.lineage:  # a log written before the waves: one bucket each
                logged[s.lineage["bucket"]] = s.rows
            else:
                raise SystemExit(
                    f"--resume: snapshot {s.snapshot_id} of {snap_table} names no "
                    f"bucket; rerun with a fresh --output"
                )
        manifest.partitions = [
            p for p in manifest.partitions if p["partition"] in logged or p["rows"] == 0
        ]
        for pid in logged.keys() - {p["partition"] for p in manifest.partitions}:
            manifest.record_partition(pid, rows=logged[pid], seconds=None)
    done = {p["partition"] for p in manifest.partitions}
    pending = [b for b in range(args.buckets) if f"bucket={b}" not in done]

    t_all = time.perf_counter()
    if "_staged_rows" not in frozen or (
        pending and not os.path.exists(os.path.join(staging, "_SUCCESS"))
    ):
        frozen = {**_stage(t, staging, args.buckets), **frozen}
    manifest.args.update(frozen)
    # staged bytes per pending bucket: a listing, no Spark job. A bucket
    # no conversation hashes to has no staging dir: nothing to write
    sizes = {}
    for b in pending:
        n = _staged_bytes(os.path.join(staging, f"_bucket={b}"))
        if n is None:
            manifest.record_partition(f"bucket={b}", rows=0, seconds=0.0)
        else:
            sizes[b] = n
    manifest.save(manifest_dir)

    budget = spark.sparkContext.defaultParallelism * (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    waves = _waves(sizes, budget)
    stats = frozen["_frozen_stats"]
    # the input's schema plus the partition column: no footer-reading job
    # per wave (a copy: StructType.add mutates t.schema)
    schema = StructType([*t.schema.fields, StructField("_bucket", IntegerType())])

    def run_wave(n: int, wave: list[int]) -> tuple[dict, float]:
        t0 = time.perf_counter()
        part = (
            spark.read.schema(schema)
            .option("basePath", staging)
            .parquet(*(os.path.join(staging, f"_bucket={b}") for b in wave))
        )
        feats = turn_features(part, gap_seconds=args.gap_seconds, frozen_stats=stats)
        # per-bucket row counts via Observation on the write itself —
        # re-reading the fresh output would double the job's I/O at scale
        obs = Observation(f"rows_wave_{n}")
        feats = feats.observe(
            obs, *(F.expr(f"count_if(_bucket = {b}) AS `bucket={b}`") for b in wave)
        )
        if args.snapshots:
            snaplog.commit(
                feats.drop("_bucket"),
                snap_table,
                lineage=lambda: {"buckets": obs.get, "run_id": run_id},
            )
        else:
            # dynamic: the overwrite replaces only this wave's bucket dirs,
            # and each write stages in its own .spark-staging-<uuid> dir
            feats.withColumnRenamed("_bucket", "bucket").write.partitionBy("bucket").mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").parquet(args.output)
        return obs.get, round(time.perf_counter() - t0, 3)

    total_rows = 0
    # the snapshot log is single-writer, and a commit holds its lock
    # through the data write: snapshot waves run one at a time. Results
    # come back in wave order; only this thread touches the manifest
    in_flight = 1 if args.snapshots else WAVES_IN_FLIGHT
    with ThreadPoolExecutor(max_workers=in_flight) as pool:
        for counts, seconds in pool.map(run_wave, range(len(waves)), waves):
            for pid, r in counts.items():  # recorded only after the write committed
                manifest.record_partition(pid, rows=r, seconds=seconds)
            manifest.save(manifest_dir)
            total_rows += sum(counts.values())
    shutil.rmtree(staging, ignore_errors=True)
    with os.scandir(args.output) as it:  # left by a wave killed mid-write
        for e in it:
            if e.name.startswith(".spark-staging-"):
                shutil.rmtree(e.path, ignore_errors=True)

    recorded = sum(p["rows"] for p in manifest.partitions)
    if recorded != frozen["_staged_rows"]:
        print(
            f"row check failed: the buckets recorded {recorded} rows, "
            f"the staging scan saw {frozen['_staged_rows']}",
            file=sys.stderr,
        )
        return 1
    manifest.finish()
    manifest.save(manifest_dir)
    wall = time.perf_counter() - t_all
    print(
        json.dumps(
            {
                "run_id": run_id,
                "buckets": args.buckets,
                "skipped": len(done),
                "waves": len(waves),
                "rows_written": total_rows,
                "seconds": round(wall, 3),
                "rows_per_sec": round(total_rows / wall, 1) if wall > 0 else None,
            }
        )
    )
    return 0


def _staged_bytes(path: str) -> int | None:
    """Bytes of the data files under one bucket's staging dir, or ``None``
    when no conversation hashed to the bucket (no dir)."""
    try:
        with os.scandir(path) as it:
            return sum(e.stat().st_size for e in it if e.is_file() and e.name[0] not in "._")
    except FileNotFoundError:
        return None


def _waves(sizes: dict[int, int], budget: int) -> list[list[int]]:
    """Pack the buckets of ``sizes`` (bucket -> staged bytes), in bucket
    order, into runs whose bytes stay within ``budget``; a bucket larger
    than ``budget`` is a run of its own."""
    waves: list[list[int]] = []
    held = 0
    for b, n in sorted(sizes.items()):
        if not waves or held + n > budget:
            waves.append([])
            held = 0
        waves[-1].append(b)
        held += n
    return waves


def _stage(t, staging: str, buckets: int) -> dict:
    """Write ``t`` once as ``staging/_bucket=<b>/`` (map-only: no bucket is
    forced into one task) and return the frozen-stats entries observed on
    that write."""
    from acoustic_feature_extractor_spark.operators.stats import corpus_aggs

    obs = Observation("staging")
    t.withColumn("_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets))).observe(
        obs, *corpus_aggs(F.length("text").cast("double")), F.count(F.lit(1)).alias("rows")
    ).write.mode("overwrite").partitionBy("_bucket").parquet(staging)
    m = obs.get
    return {
        "_frozen_stats": {"mean": m["mean"], "stddev": m["stddev"]},
        "_staged_rows": int(m["rows"]),
    }


if __name__ == "__main__":
    raise SystemExit(main())
