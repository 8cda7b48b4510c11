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
  within a bucket — the bucket is the unit of work, checkpointing, and
  resume.
- one staging scan reads the input once: a map-only write (no shuffle)
  saves it as ``<output>/_staging/_bucket=<b>/``, and bucket *b* reads
  only its own directory. An ``Observation`` on that write yields the
  corpus statistics of ``length(text)`` (the ``corpus_stats``
  aggregates) and the staged row count without a job of their own; both
  are frozen into the manifest (``_frozen_stats``, ``_staged_rows``) so
  resumed buckets normalize against identical stats (no leakage between
  restart and original run). A bucket no conversation hashes to is
  recorded with 0 rows.
- the pending buckets run concurrently, from a thread pool of
  ``defaultParallelism`` threads (PySpark's pinned-thread mode keeps each
  thread's Spark jobs apart). Each writes ``<output>/bucket=<i>/``; only
  after that write commits is its row count + wall time recorded in
  ``<output>/_manifest/manifest.json`` (the reference's
  ``arguments.json`` provenance generalized, see ``plans/lineage.py``),
  and the manifest saved, under one lock. A killed run loses at most the
  in-flight buckets. Per-bucket ``seconds`` overlap, so they sum to more
  than the run's wall time.
- ``--resume`` skips buckets already present in the manifest (the
  Iceberg-snapshot analog for the parquet backend). It re-stages only
  when buckets are pending and ``_staging/_SUCCESS`` is missing, and the
  frozen stats always win over re-observed ones. ``_staging`` is deleted
  once every bucket is recorded.
- the run exits non-zero when the recorded bucket rows, resumed ones
  included, do not sum to ``_staged_rows``.
- ``--snapshots`` commits each bucket as an append snapshot instead. The
  snapshot log is single-writer, so its commits are serialized under the
  same lock, and that mode gains only the overlap of plan building.

The final metrics line (one JSON object on stdout) reports per-bucket
lineage and aggregate turns/sec.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


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
        help="commit each bucket as an append snapshot into <output>/features "
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
        # an entry exists iff that bucket's data committed atomically. Keep
        # the lineage the log still vouches for, and the empty buckets,
        # which commit nothing; a bucket whose commit landed but whose
        # manifest save was lost is recorded from the log.
        logged = (
            {s.lineage.get("bucket"): s.rows for s in snaplog.history(snap_table)}
            if args.resume
            else {}
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
    manifest.save(manifest_dir)

    stats, schema, lock = frozen["_frozen_stats"], t.schema, threading.Lock()

    def run_bucket(b: int) -> int:
        pid = f"bucket={b}"
        t0 = time.perf_counter()
        src = os.path.join(staging, f"_bucket={b}")
        rows = 0  # no conversation hashes to this bucket: nothing to write
        if os.path.isdir(src):
            # the input's schema: no footer-reading job per bucket
            part = spark.read.schema(schema).parquet(src)
            feats = turn_features(part, gap_seconds=args.gap_seconds, frozen_stats=stats)
            if args.snapshots:
                with lock:  # the snapshot log is single-writer
                    rows = snaplog.commit(
                        feats, snap_table, lineage={"bucket": pid, "run_id": run_id}
                    ).rows
            else:
                # row count via Observation on the write itself — re-reading
                # the fresh output would double the job's I/O at scale
                obs = Observation(f"rows_{pid}")
                feats.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                    "overwrite"
                ).parquet(os.path.join(args.output, pid))
                rows = int(obs.get["rows"])
        with lock:  # recorded only after its write committed
            manifest.record_partition(pid, rows=rows, seconds=round(time.perf_counter() - t0, 3))
            manifest.save(manifest_dir)
        return rows

    threads = max(1, min(len(pending), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=threads) as pool:
        total_rows = sum(pool.map(run_bucket, pending))
    shutil.rmtree(staging, ignore_errors=True)

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
                "rows_written": total_rows,
                "seconds": round(wall, 3),
                "rows_per_sec": round(total_rows / wall, 1) if wall > 0 else None,
            }
        )
    )
    return 0


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
