"""Incremental feature backfill over snapshot tables.

The batch flagship (``run_turn_features.py``) recomputes everything; this
job is the INCREMENTAL twin a 10^12-turn deployment actually runs hourly:

1. The source transcripts live in a snapshot-log table (append-only
   commits, e.g. landed by ``sources/snapshots.snapshot_sink``).
2. The features table's own snapshot lineage records the last SOURCE
   snapshot id it processed. The delta = exactly the data dirs appended
   since — resolved from snapshot metadata, zero scanning.
3. Window features depend on whole conversations, so the job recomputes
   the full history of only the conversations TOUCHED by the delta: the
   rows of the dirs already processed whose ``conv_id`` the delta holds
   (a semi-join; with conv-bucketed layout this is a pruned read), plus
   the delta's rows with a non-NULL ``conv_id``, tagged as the delta's.
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
   lineage, and each later increment bins the delta rows it featurizes
   the same way (a row with a NULL ``conv_id`` touches no conversation
   and is not scored). The merge's write does the binning: one
   ``Observation`` on the written frame holds the 16 bin counts and the
   touched-conversation count. PSI and KS are then scored on the driver
   from the two count lists (``sketches.drift_from_counts``, the math of
   ``psi_from_hists`` / ``ks_from_hists``): the scoring runs no Spark
   job. Both land in the JSON line and in the commit lineage;
   ``--max-psi`` / ``--max-ks`` turn them into a gate (a drifted drop
   fails the job instead of silently poisoning the features table with
   stale normalization). The gate decides after the write and before the
   commit is published, through ``merge_upsert``'s callable ``lineage``;
   a refused increment removes its written dir and leaves the features
   table as it was.

Cost per increment: one Spark query, 4 jobs. The delta is found from
metadata; 2 jobs collect and broadcast its distinct keys, 1 scans the
touched conversations' history into the exchange, and 1 runs the
windows and the merge's write, which also checks the keys and profiles
the delta (the recompute's output is already clustered and sorted by
conversation, so neither adds an exchange, a sort or a cache). It reads
and rewrites no existing feature dir. The history read of the touched
conversations still scans the whole source.

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

from pyspark.sql import Observation, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


class DriftGate(Exception):
    """An increment's delta drifted past ``--max-psi`` or ``--max-ks``;
    ``args[0]`` holds the tripped statistic and its bar."""


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

    # fixed-range drift-sketch domain for text_len (chars): pinned once,
    # every later increment bins identically (same at-rest contract as
    # sketches.hist_rollup)
    _H_LO, _H_HI, _H_BINS = 0.0, 1024.0, 16
    w_bin = (_H_HI - _H_LO) / _H_BINS

    def bin_counts(text_len: str, where: str = "true"):
        """The array ``_hist`` of the 16 bin counts of the SQL expression
        ``text_len`` over the rows ``where`` holds: one aggregate column,
        built by one parse."""
        b = f"least(greatest(floor(({text_len} - {_H_LO}D) / {w_bin}D), 0), {_H_BINS - 1})"
        bins = ", ".join(f"count_if({where} AND {b} = {i})" for i in range(_H_BINS))
        return F.expr(f"array({bins}) AS _hist")

    def lineage(stats, ref_hist, drift_psi=None, drift_ks=None) -> dict:
        out = {
            "source_snapshot": head.snapshot_id,
            "stats": stats,
            "text_len_hist": ref_hist,
            "job": "incremental_features",
        }
        if drift_psi is not None:
            out["drift_psi"] = round(drift_psi, 6)
        if drift_ks is not None:
            out["drift_ks"] = round(drift_ks, 6)
        return out

    if not feat_hist:
        # first run: every conversation is new. One aggregate pins the
        # corpus stats and the drift histogram together
        full = snap.read(spark, args.source)
        text_len = F.length("text").cast("double")
        row = full.agg(bin_counts("CAST(length(text) AS DOUBLE)"), *corpus_aggs(text_len)).first()
        ref_hist = row["_hist"]
        stats = {"mean": float(row["mean"]), "stddev": float(row["stddev"])}
        n_touched = full.select(F.count_distinct("conv_id")).first()[0]
        hist = full.where(F.col("conv_id").isNotNull())  # as the semi-join would
        feats = turn_features(
            hist, gap_seconds=gap, rolling=args.rolling, frozen_stats=stats
        )
        out = snap.commit(feats, args.features, lineage=lineage(stats, ref_hist))
    else:
        stats = feat_hist[0].lineage["stats"]
        ref_hist = feat_hist[0].lineage.get("text_len_hist")
        # full history of ONLY the touched conversations (windows need
        # whole convs; everything untouched keeps its existing feature
        # rows): their rows in the dirs already processed, read at the
        # head's schema, plus the delta's keyed rows, tagged `_delta`
        delta = snap.read(spark, args.source, dirs=new_dirs)
        old = snap.read(spark, args.source, dirs=[d for d in head.dirs if d in old_dirs])
        hist = (
            old.join(delta.select("conv_id").distinct(), "conv_id", "left_semi")
            .withColumn("_delta", F.lit(False))
            .unionByName(
                delta.where(F.col("conv_id").isNotNull()).withColumn("_delta", F.lit(True))
            )
        )
        feats = turn_features(
            hist, gap_seconds=gap, rolling=args.rolling, frozen_stats=stats
        )
        # the merge's write profiles the delta: one Observation at the
        # root of the written frame counts the touched conversations (the
        # first turn of each; turn_features output is already clustered
        # and sorted by (conv_id, turn_idx), so the window adds no
        # exchange and no sort) and bins the delta rows' text_len
        obs = Observation("increment_profile")
        first = F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx")) == 1
        feats = (
            feats.withColumn("_first", first)
            .observe(
                obs,
                F.count_if("_first").alias("_convs"),
                bin_counts("text_len", "_delta"),
            )
            .drop("_first", "_delta")
        )

        def scored() -> dict:
            """The increment's lineage, or :class:`DriftGate` when the
            delta's PSI or KS vs the pinned window passes its bar. PSI and
            KS are scored on the driver from the same two 16-bin count
            lists; an empty delta scores None on both and passes."""
            m = obs.get
            cur_hist = m["_hist"]
            drift_psi, drift_ks = drift_from_counts(ref_hist, cur_hist) if ref_hist else (None, None)
            if None not in (args.max_psi, drift_psi) and drift_psi > args.max_psi:
                raise DriftGate({"drift_psi": round(drift_psi, 6), "max_psi": args.max_psi})
            if None not in (args.max_ks, drift_ks) and drift_ks > args.max_ks:
                raise DriftGate({"drift_ks": round(drift_ks, 6), "max_ks": args.max_ks})
            return lineage(stats, ref_hist, drift_psi, drift_ks)

        try:
            out = snap.merge_upsert(
                spark,
                feats,
                args.features,
                key=["conv_id", "turn_idx"],
                lineage=scored,
            )
        except DriftGate as gate:
            print(
                json.dumps(
                    {
                        "noop": False,
                        "failed": "drift_gate",
                        "source_snapshot": head.snapshot_id,
                        **gate.args[0],
                    }
                )
            )
            return 2
        n_touched = int(obs.get["_convs"])

    print(
        json.dumps(
            {
                "noop": False,
                "source_snapshot": head.snapshot_id,
                "rows_written": out.rows,
                "touched_convs": n_touched,
                "drift_psi": out.lineage.get("drift_psi"),
                "drift_ks": out.lineage.get("drift_ks"),
                "wall_s": round(time.perf_counter() - t0, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
