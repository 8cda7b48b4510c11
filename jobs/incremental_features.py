"""Incremental feature backfill over snapshot tables.

The batch flagship (``run_turn_features.py``) recomputes everything; this
job is the INCREMENTAL twin a 10^12-turn deployment actually runs hourly:

1. The source transcripts live in a snapshot-log table (append-only
   commits, e.g. landed by ``sources/snapshots.snapshot_sink``).
2. The features table's own snapshot lineage records the last SOURCE
   snapshot id it processed. The delta = exactly the data dirs appended
   since — resolved from snapshot metadata, zero scanning.
3. Window features depend on whole conversations, so the job recomputes
   the full history of only the conversations TOUCHED by the delta (a
   semi-join; with conv-bucketed layout this is a pruned read) and
   :func:`~acoustic_feature_extractor_spark.sources.snapshots.merge_upsert`'s
   merge-on-read merge writes just those rows into one new feature dir,
   whose keys delete the old rows on read.
4. Normalization statistics are computed ONCE on the first run and pinned
   in lineage (the reference's separate-statistics-job contract,
   ``extract_f0_statistics.py`` → applied by ``f0.convert``): later
   increments normalize against the same corpus numbers, keeping every
   already-served feature stable (training/serving consistency). Re-fit
   by truncating the features table and rerunning.
5. Every increment SELF-MONITORS drift: the first run also pins a
   fixed-range 16-bin histogram of the normalized signal (text_len) in
   lineage, and each later increment bins the DELTA the same way, in the
   one aggregate that also counts its conversations. PSI and KS are then
   scored on the driver from the two count lists
   (``sketches.drift_from_counts``, the math of ``psi_from_hists`` /
   ``ks_from_hists``): the scoring runs no Spark job. Both land
   in the JSON line and in the commit lineage; ``--max-psi`` / ``--max-ks``
   turn them into a gate (a drifted drop fails the job instead of
   silently poisoning the features table with stale normalization).

Cost per increment: the delta is found from metadata and profiled in one
aggregate, the feature recompute covers only the touched conversations,
and the merge writes their rows in one job that also checks their keys
(the recompute's output is already clustered by conversation, so the
check adds no exchange and no cache): it reads and rewrites no existing
feature dir. The history read of the touched conversations still scans
the whole source.

Emits one JSON line: rows upserted, touched conversations, processed
source snapshot, drift PSI vs the pinned window, and whether the run
was a no-op.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True, help="transcripts snapshot table")
    ap.add_argument("--features", required=True, help="features snapshot table")
    ap.add_argument("--gap-seconds", type=float, default=None)
    ap.add_argument("--rolling", type=int, default=5)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--max-psi",
        type=float,
        default=None,
        help="fail the run when the delta's PSI vs the pinned training "
        "window exceeds this (0.25 = the classic 'drifted' bar); default "
        "monitor-only",
    )
    ap.add_argument(
        "--max-ks",
        type=float,
        default=None,
        help="fail the run when the delta's Kolmogorov–Smirnov distance "
        "vs the pinned training window exceeds this — the "
        "distribution-free companion bar to --max-psi (PSI explodes on "
        "near-empty bins; KS is the bounded worst-case CDF gap). Both "
        "score from the SAME pinned histogram; default monitor-only",
    )
    args = ap.parse_args(argv)

    from acoustic_feature_extractor_spark.datagen import SESSION_GAP_SECONDS
    from acoustic_feature_extractor_spark.operators.sketches import drift_from_counts
    from acoustic_feature_extractor_spark.operators.stats import corpus_aggs
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features
    from acoustic_feature_extractor_spark.session import get_spark
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    gap = args.gap_seconds if args.gap_seconds is not None else SESSION_GAP_SECONDS
    spark = get_spark(app_name="afe_incremental_features", cores=args.cores)
    t0 = time.perf_counter()

    src_hist = snap.history(args.source)
    if not src_hist:
        raise SystemExit(f"no source snapshots at {args.source}")
    head = src_hist[-1]

    feat_hist = snap.history(args.features)
    last = max(
        (s.lineage.get("source_snapshot", 0) for s in feat_hist), default=0
    )
    if last >= head.snapshot_id:
        print(json.dumps({"noop": True, "source_snapshot": last}))
        return 0

    # delta = dirs the source gained since `last` (snapshot METADATA diff —
    # nothing is scanned to find the increment)
    by_id = {s.snapshot_id: s for s in src_hist}
    if last and last not in by_id:
        raise SystemExit(
            f"source snapshot {last} (the last one processed) has been "
            f"expired from the log (have {sorted(by_id)}) — the delta is "
            "unrecoverable; truncate the features table and rerun full"
        )
    old_dirs = set(by_id[last].dirs) if last else set()
    bad = [
        s.snapshot_id
        for s in src_hist
        if s.snapshot_id > last and s.operation != "append"
    ]
    if last and bad:
        raise SystemExit(
            f"source snapshots {bad} are not appends — incremental delta "
            "is undefined; truncate the features table and rerun full"
        )
    new_dirs = [d for d in head.dirs if d not in old_dirs]
    full = snap.read(spark, args.source)

    # fixed-range drift-sketch domain for text_len (chars): pinned once,
    # every later increment bins identically (same at-rest contract as
    # sketches.hist_rollup)
    _H_LO, _H_HI, _H_BINS = 0.0, 1024.0, 16
    w_bin = (_H_HI - _H_LO) / _H_BINS
    text_bin = F.least(
        F.greatest(
            F.floor((F.length("text").cast("double") - F.lit(_H_LO)) / F.lit(w_bin)),
            F.lit(0),
        ),
        F.lit(_H_BINS - 1),
    )

    def _profile(df, *aggs):
        """One aggregate over ``df``: its text_len histogram and ``aggs``."""
        row = df.agg(
            *[F.count(F.when(text_bin == i, 1)).alias(f"_h{i}") for i in range(_H_BINS)],
            *aggs,
        ).first()
        return [int(row[f"_h{i}"]) for i in range(_H_BINS)], row

    drift_psi = None
    drift_ks = None
    if feat_hist:
        stats = feat_hist[0].lineage["stats"]
        ref_hist = feat_hist[0].lineage.get("text_len_hist")
        # one aggregate over the delta gives its histogram and its
        # conversation count
        delta = snap.read(spark, args.source, dirs=new_dirs)
        cur_hist, row = _profile(delta, F.count_distinct("conv_id").alias("_convs"))
        n_touched = int(row["_convs"])
        # full history of ONLY the touched conversations (windows need
        # whole convs; everything untouched keeps its existing feature rows)
        hist = full.join(delta.select("conv_id").distinct(), "conv_id", "left_semi")
        if ref_hist:
            # PSI + KS of the DELTA vs the pinned training window, both
            # scored on the driver from the same two 16-bin count lists;
            # an empty delta scores None on both and passes either gate
            drift_psi, drift_ks = drift_from_counts(ref_hist, cur_hist)
            tripped = None
            if None not in (args.max_psi, drift_psi) and drift_psi > args.max_psi:
                tripped = {"drift_psi": round(drift_psi, 6), "max_psi": args.max_psi}
            elif None not in (args.max_ks, drift_ks) and drift_ks > args.max_ks:
                tripped = {"drift_ks": round(drift_ks, 6), "max_ks": args.max_ks}
            if tripped is not None:
                print(
                    json.dumps(
                        {
                            "noop": False,
                            "failed": "drift_gate",
                            "source_snapshot": head.snapshot_id,
                            **tripped,
                        }
                    )
                )
                return 2
    else:
        # first run: every conversation is new. One aggregate pins the
        # corpus stats and the drift histogram together
        ref_hist, row = _profile(full, *corpus_aggs(F.length("text").cast("double")))
        stats = {"mean": float(row["mean"]), "stddev": float(row["stddev"])}
        n_touched = full.select(F.count_distinct("conv_id")).first()[0]
        hist = full.where(F.col("conv_id").isNotNull())  # as the semi-join would

    feats = turn_features(
        hist, gap_seconds=gap, rolling=args.rolling, frozen_stats=stats
    )
    lineage = {
        "source_snapshot": head.snapshot_id,
        "stats": stats,
        "text_len_hist": ref_hist,
        "job": "incremental_features",
    }
    if drift_psi is not None:
        lineage["drift_psi"] = round(drift_psi, 6)
    if drift_ks is not None:
        lineage["drift_ks"] = round(drift_ks, 6)
    if not feat_hist:
        out = snap.commit(feats, args.features, lineage=lineage)
    else:
        out = snap.merge_upsert(
            spark,
            feats,
            args.features,
            key=["conv_id", "turn_idx"],
            lineage=lineage,
        )

    print(
        json.dumps(
            {
                "noop": False,
                "source_snapshot": head.snapshot_id,
                "rows_written": out.rows,
                "touched_convs": n_touched,
                "drift_psi": None if drift_psi is None else round(drift_psi, 6),
                "drift_ks": None if drift_ks is None else round(drift_ks, 6),
                "wall_s": round(time.perf_counter() - t0, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
