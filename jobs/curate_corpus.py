"""Corpus-curation pipeline job: the training-data counterpart of
``run_turn_features.py``.

Composes the engine's document operators end-to-end over a documents
table (doc_id, text, lang, source, n_chars)::

    [C4 heuristic cleaning] → exact dedup
    → near-dup drop (MinHash LSH → transitive closure)
    → Gopher quality gate → PII redaction → group-aware split → shards

Launch::

    python jobs/curate_corpus.py --input /data/documents --output /data/curated

Execution model — two modes, one set of stage transforms:

- **fused** (default): the stages compose into ONE lazy DataFrame plan
  ending in a single partitioned write. Resume granularity is the write
  itself: a ``--resume`` of a finished run skips it. The C4, quality
  and scrub stages filter rows and rewrite columns of the frame they are
  given, so the plan reads the input twice, once for each dedup stage's
  second reference to it (8 times with ``--cut-spans``, whose span pass
  refers to its input more than once). On the sf0.1 documents (5,000
  docs in one file) with ``--shards 4`` on a 4-core host, 6 alternating
  warm pairs took a median 13.6 s and 36 Spark jobs fused against 13.0 s
  and 44 jobs with ``--checkpoint-stages``, within noise (the plan whose
  stages joined the frame with itself: 18.9 s fused, 14.9 s staged).
- **--checkpoint-stages**: each stage materializes to
  ``<output>/stage=<name>/`` and is recorded in the run manifest, so a
  killed run reads the last completed stage's parquet back and reruns
  only the first unrecorded stage from it; no stage ever runs on its own
  output. Costs one write+read per stage — the knob for clusters where
  preemption beats I/O.

Audit outputs (both modes): per-stage row counts in the manifest — every
document the pipeline DROPS is accounted to the stage that dropped it
(dedup, clusters, or quality), because a curation pipeline that can't
say where the corpus went is how training sets rot silently.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402


FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def stage_transforms(
    minhash_threshold: float = 0.7,
    min_words: int = 20,
    n_shards: int = 16,
    seed: int = 0,
    cut_spans: bool = False,
    cut_w: int = 8,
    c4: bool = False,
    c4_min_line_words: int = 5,
    c4_min_lines: int = 3,
) -> list[tuple[str, Callable[[DataFrame], DataFrame]]]:
    """Ordered (name, prev-stage-df → this-stage-df) transforms.

    Fused mode folds them into one plan; staged mode checkpoints between
    each. No transform runs on its own output (``scrubbed`` would add its
    ``n_*`` columns twice and recount PII in redacted text).
    """
    from acoustic_feature_extractor_spark.functions import text as tx
    from acoustic_feature_extractor_spark.operators import (
        cluster as cluster_ops,
        dedup as dedup_ops,
        sample as sample_ops,
    )

    t = F.col("text")

    def rest(d: DataFrame) -> list[str]:
        return [c for c in d.columns if c != "text"]

    def near_dedup(d: DataFrame) -> DataFrame:
        # LSH candidates → exact-jaccard verify → transitive closure;
        # only non-canonical cluster members drop
        pairs = dedup_ops.minhash_lsh_pairs(d, threshold=minhash_threshold)
        clusters = cluster_ops.dedup_clusters(pairs.select("id_a", "id_b"))
        losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
            "doc_id"
        )
        return d.join(losers, "doc_id", "left_anti")

    def span_cut(d: DataFrame) -> DataFrame:
        # substring-level pass AFTER doc-level dedup: excise remaining
        # duplicated spans, keep the canonical occurrence. Case and
        # non-text columns survive; inter-token whitespace is
        # canonicalized.
        c = dedup_ops.cut_duplicated_spans(d, w=cut_w)
        return c.select(*rest(d), F.col("clean_text").alias("text"))

    def scrub(d: DataFrame) -> DataFrame:
        # counts stay attached as the per-doc audit trail
        return d.select(*rest(d), *tx.pii_counts(t), tx.redact_pii(t).alias("text"))

    def export(d: DataFrame) -> DataFrame:
        split = sample_ops.hash_split(d, "doc_id", FRACTIONS, seed=seed)
        return sample_ops.shard_shuffle(
            split, "doc_id", n_shards=n_shards, seed=seed, within=["split"]
        )

    def c4_stage(d: DataFrame) -> DataFrame:
        # C4 heuristic cleaning FIRST (the published order: strip
        # boilerplate lines before dedup so shared boilerplate can't
        # fuse unrelated docs into near-dup clusters)
        kept = tx.c4_kept_lines(t, c4_min_line_words)
        return d.where(tx.c4_page_keep(t, kept, c4_min_lines)).select(
            *rest(d), F.array_join(kept, "\n").alias("text")
        )

    out = [("c4_clean", c4_stage)] if c4 else []
    out += [
        ("exact_dedup", dedup_ops.exact_dedup),
        ("near_dedup", near_dedup),
    ]
    if cut_spans:
        out.append(("span_cut", span_cut))
    out += [
        ("quality", lambda d: d.where(tx.gopher_keep(t, min_words))),
        ("scrubbed", scrub),
        ("curated", export),
    ]
    return out


def _count_write(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """Write + exact row count in one job via Observation (no re-read)."""
    from pyspark.sql import Observation

    obs = Observation(f"rows_{os.path.basename(path)}_{time.monotonic_ns()}")
    w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return int(obs.get["rows"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--minhash-threshold", type=float, default=0.7)
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--cut-spans", action="store_true",
                    help="substring-level dedup stage (cut duplicated spans, keep canonical)")
    ap.add_argument("--cut-w", type=int, default=8)
    ap.add_argument("--c4", action="store_true",
                    help="C4 heuristic cleaning stage (line filters + page gates) before dedup")
    ap.add_argument("--c4-min-line-words", type=int, default=5)
    ap.add_argument("--c4-min-lines", type=int, default=3)
    ap.add_argument("--checkpoint-stages", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from acoustic_feature_extractor_spark.plans.cache import release_persisted
    from acoustic_feature_extractor_spark.plans.lineage import (
        RunManifest,
        completed_partitions,
    )
    from acoustic_feature_extractor_spark.session import get_spark

    spark = get_spark(app_name="afe_curate_corpus", cores=args.cores)
    manifest_dir = os.path.join(args.output, "_manifest")
    done = completed_partitions(manifest_dir) if args.resume else set()
    prev = RunManifest.load(manifest_dir) if args.resume else None
    if prev is not None:
        for k in (
            "minhash_threshold",
            "min_words",
            "shards",
            "seed",
            "input",
            "cut_spans",
            "cut_w",
            "c4",
            "c4_min_line_words",
            "c4_min_lines",
        ):
            old_v = (prev.args or {}).get(k)
            if old_v is not None and str(old_v) != str(vars(args)[k]):
                raise SystemExit(
                    f"--resume argument mismatch: manifest has {k}={old_v}, "
                    f"this run has {k}={vars(args)[k]}"
                )

    manifest = RunManifest(run_id=f"curate-{int(time.time())}", args=vars(args))
    if prev is not None:
        manifest.partitions = list(prev.partitions)

    stages = stage_transforms(
        minhash_threshold=args.minhash_threshold,
        min_words=args.min_words,
        n_shards=args.shards,
        seed=args.seed,
        cut_spans=args.cut_spans,
        cut_w=args.cut_w,
        c4=args.c4,
        c4_min_line_words=args.c4_min_line_words,
        c4_min_lines=args.c4_min_lines,
    )
    docs = spark.read.parquet(args.input)
    t_all = time.perf_counter()

    if not args.checkpoint_stages:
        if "curated" not in done:
            cur = docs
            for _, fn in stages:
                cur = fn(cur)
            out = os.path.join(args.output, "curated")
            rows = _count_write(cur, out, partition_by=["split", "shard"])
            manifest.record_partition(
                "curated", rows=rows, seconds=round(time.perf_counter() - t_all, 3)
            )
    else:
        cur = docs
        for name, fn in stages:
            pid = f"stage={name}"
            path = os.path.join(args.output, pid)
            if pid in done:
                cur = spark.read.parquet(path)
                continue
            t0 = time.perf_counter()
            part = ["split", "shard"] if name == "curated" else None
            rows = _count_write(fn(cur), path, partition_by=part)
            manifest.record_partition(
                pid, rows=rows, seconds=round(time.perf_counter() - t0, 3)
            )
            manifest.save(manifest_dir)  # checkpoint after every stage
            # operator-internal caches (minhash shingle/signature tables)
            # are dead once the stage's write has landed
            release_persisted()
            cur = spark.read.parquet(path)

    release_persisted()
    manifest.finish()
    manifest.save(manifest_dir)
    print(
        json.dumps(
            {
                "run_id": manifest.run_id,
                "stages": [
                    {k: p[k] for k in ("partition", "rows", "seconds")}
                    for p in manifest.partitions
                ],
                "wall_s": round(time.perf_counter() - t_all, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
