"""Streaming corpus curation: the Structured-Streaming twin of
``curate_corpus.py``.

Watches a directory for document parquet files and maintains a curated,
versioned corpus table::

    file stream → watermarked exact dedup → C4 line/page gates (optional)
    → Gopher quality gate → PII redaction → exactly-once snapshot table

Everything after the dedup is MAP-ONLY by construction — the quality
signals use the sorted-runs fold (``gopher_keep``), the C4 filters and
PII scrub are pure projections — so the whole curation pass pipelines
with the scan: the only stateful operator is the content-hash dedup,
whose store is bounded by the watermark horizon. The near-dup (MinHash)
stage is deliberately batch-only: LSH banding needs corpus-wide joins;
run ``curate_corpus.py`` over the snapshot table it lands in.

The sink is :func:`~acoustic_feature_extractor_spark.sources.snapshots.snapshot_sink`:
each micro-batch commits as one snapshot (idempotent on epoch replay →
exactly-once), so downstream batch jobs — including the incremental
feature backfill — time-travel over a consistent, versioned view of the
curated stream.

``--drain`` processes everything currently present, then exits (the
testable/backfill mode; a later run with the same checkpoint continues
exactly after the last committed micro-batch).

Dedup event time is INGEST time (``current_timestamp()``): documents
carry no event-time column, and the dedup horizon is an operational
"how long do duplicates take to re-arrive" budget, not data time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def curation_columns(min_words: int, c4: bool, c4_min_line_words: int, c4_min_lines: int):
    """(keep_predicate, projection) — every gate as pure Columns so the
    streaming plan stays map-only after the dedup. The gates are the batch
    stages' own predicates: C4 rewrites text to its kept lines
    (``c4_page_keep``), Gopher gates (``gopher_keep``), and PII is
    redacted with the counts kept as the audit trail."""
    from acoustic_feature_extractor_spark.functions import text as tx

    t = F.col("text")
    if c4:
        kept = tx.c4_kept_lines(t, c4_min_line_words)
        c4_keep = tx.c4_page_keep(t, kept, c4_min_lines)
        text_out = F.array_join(kept, "\n")
    else:
        c4_keep = F.lit(True)
        text_out = t

    # Gopher scores the POST-C4 text, like the batch order
    keep = c4_keep & tx.gopher_keep(text_out, min_words)
    proj = [
        "doc_id",
        "lang",
        "source",
        *tx.pii_counts(text_out),
        tx.redact_pii(text_out).alias("text"),
    ]
    return keep, proj


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="directory watched for document parquet files")
    ap.add_argument("--output", required=True, help="curated snapshot table path")
    ap.add_argument("--checkpoint", help="default <output>/_checkpoint")
    ap.add_argument("--watermark", default="1 hour", help="dedup horizon (ingest time)")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--c4", action="store_true")
    ap.add_argument("--c4-min-line-words", type=int, default=5)
    ap.add_argument("--c4-min-lines", type=int, default=3)
    ap.add_argument("--drain", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from acoustic_feature_extractor_spark.session import get_spark
    from acoustic_feature_extractor_spark.sources import snapshots as snap
    from acoustic_feature_extractor_spark.streaming.enrich import streaming_exact_dedup

    spark = get_spark(app_name="afe_stream_curate", cores=args.cores)
    checkpoint = args.checkpoint or os.path.join(args.output, "_checkpoint")

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(args.input)
        .withColumn("_ingest_ts", F.current_timestamp())
    )
    deduped = streaming_exact_dedup(
        stream, text_col="text", ts="_ingest_ts", watermark=args.watermark
    ).drop("_ingest_ts")
    keep, proj = curation_columns(
        args.min_words, args.c4, args.c4_min_line_words, args.c4_min_lines
    )
    curated = deduped.where(keep).select(*proj)

    q = snap.snapshot_sink(
        curated,
        args.output,
        checkpoint,
        query_name="stream_curate",
        available_now=args.drain,
    )
    if not args.drain:
        q.awaitTermination()
        return 0
    q.awaitTermination(600)
    q.stop()
    hist = snap.history(args.output)
    rows = snap.read(spark, args.output).count() if hist else 0
    print(
        json.dumps(
            {
                "snapshots": len(hist),
                "table_rows": rows,
                "last_epoch": hist[-1].lineage.get("epoch") if hist else None,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
