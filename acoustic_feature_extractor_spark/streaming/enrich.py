"""Streaming ingestion operators: watermarked dedup + as-of enrichment.

Beyond-reference (the reference is batch only); these are the streaming
twins of the batch training-data ops:

- :func:`streaming_exact_dedup` — the streaming twin of
  ``operators/dedup.exact_dedup``: content-hash dedup of a document /
  turn feed, with the state store bounded by the watermark
  (``dropDuplicatesWithinWatermark`` — duplicates arriving within the
  lateness budget are dropped, state is evicted after it).
- :func:`intervalize_dimension` + :func:`streaming_asof_enrich` — the
  streaming twin of ``operators/asof.asof_join`` against a SLOWLY
  CHANGING dimension: the dimension's (key, ts) history is compacted
  into half-open validity intervals with one batch ``lead`` window, and
  the stream joins on key + range — a stateless stream-static join, so
  no watermark bookkeeping, no stateful operator, and Spark re-reads
  the dimension per micro-batch (picks up slowly-changing updates).
- :func:`streaming_interval_join` — stream-STREAM twin of the trailing
  context join (``operators/temporal.trailing_time_window`` membership /
  ``operators/intervals.overlap_join``): two live feeds joined on key
  with the right row's event time inside a bounded trailing window of
  the left row's. Both sides are watermarked and the join condition is
  a pure event-time range, so Spark derives the state-eviction bound
  itself — state per side ≈ (arrival rate × (watermark + lag)), no
  unbounded buffering at any feed volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop rows whose (md5(text), length) content hash was already seen
    within the watermark horizon. The 128+ bit key matches the batch
    exact-dedup collision bar; state for a hash is dropped once the
    watermark passes it, bounding the store at (arrival rate × horizon).
    """
    keyed = stream.withColumn("_h", F.md5(F.col(text_col))).withColumn(
        "_hl", F.length(text_col)
    )
    return (
        keyed.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_h", "_hl"])
        .drop("_h", "_hl")
    )


def intervalize_dimension(
    dim: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
) -> DataFrame:
    """Compact a (by, on, payload) history into half-open validity
    intervals: each row becomes valid on its own ``on`` and expires at the
    entity's NEXT row (open-ended for the latest). One window pass; run on
    the batch dimension before handing it to the stream join.

    Contract: one row per (by, on) — duplicate timestamps produce a
    zero-width [ts, ts) interval that can never match; pre-aggregate the
    dimension (as-of semantics are "latest ROW per timestamp" anyway)."""
    w = Window.partitionBy(by).orderBy(on)
    return dim.withColumn("_valid_to", F.lead(on).over(w))


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    max_lag_seconds: float = 300.0,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Stream-stream trailing-window join: each left row picks up every
    right row with the same ``by`` key whose event time falls in
    ``[left.on - max_lag_seconds, left.on]`` (inclusive — the strictly
    bounded "what happened just before this turn" context join).

    Both inputs must be STREAMING DataFrames carrying an event-time
    column ``on``. The equi-key plus a closed event-time range is
    exactly the shape Structured Streaming needs to bound state: each
    side's buffer is evicted once the other side's watermark passes
    ``watermark + max_lag_seconds``. ``watermark=None`` skips both
    watermarks (inner stream-stream joins run with unbounded buffers —
    finite replays / TIMESTAMP_NTZ feeds only; production streams keep
    the watermark). Inner join only (outer stream-stream
    joins emit nulls at watermark expiry — different latency contract;
    compose with a batch backfill if completeness matters more than
    freshness).

    Right payload columns come back suffixed; the right event time is
    ``{on}_r``.
    """
    lag = float(max_lag_seconds)
    payload = [c for c in right.columns if c != by]
    l = left.withWatermark(on, watermark) if watermark is not None else left
    r = right.select(
        F.col(by).alias("_r_by"),
        *[F.col(c).alias(f"{c}_r") for c in payload],
    )
    if watermark is not None:
        r = r.withWatermark(f"{on}_r", watermark)
    rts = F.col(f"{on}_r")
    cond = (
        (F.col(by) == F.col("_r_by"))
        & (rts >= F.col(on) - F.expr(f"INTERVAL '{lag}' SECOND"))
        & (rts <= F.col(on))
    )
    return l.join(r, cond, "inner").drop("_r_by")


def streaming_asof_enrich(
    stream: DataFrame,
    dim_intervals: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
) -> DataFrame:
    """Enrich each streamed row with the dimension row as of its own
    timestamp (backward as-of, ``<=``): join on entity + validity range.
    Exactly one dimension row matches per stream row (intervals partition
    the timeline), so no aggregation — and therefore no watermark or
    state — is needed; left join keeps rows before the first dimension
    row (all-null payload, as-of semantics)."""
    payload = [c for c in dim_intervals.columns if c not in (by, on, "_valid_to")]
    d = dim_intervals.select(
        F.col(by).alias("_d_by"),
        F.col(on).alias(f"{on}_dim"),
        F.col("_valid_to"),
        *[F.col(c).alias(f"{c}_dim") for c in payload],
    )
    cond = (
        (stream[by] == d["_d_by"])
        & (stream[on] >= d[f"{on}_dim"])
        & (d["_valid_to"].isNull() | (stream[on] < d["_valid_to"]))
    )
    return stream.join(d, cond, "left").drop("_d_by", "_valid_to")
