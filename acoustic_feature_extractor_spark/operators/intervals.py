"""Interval/span operators: explode-to-grid, overlap join, boundary adjust.

Reference parity targets:
- interval → dense frame expansion with position-in-interval features
  (``/root/reference/src/acoustic_feature_extractor/data/linguistic_feature.py:129-150``,
  index math at ``:71-79``): each interval repeats its feature row over
  ``[round(start·rate), round(end·rate))`` with per-frame
  ``(t − start, end − t)``.
- boolean mask from intervals (``extract_silence_from_phoneme.py:28-33``).
- interval overlap join + boundary adjustment
  (``extract_silence_expanded_label.py:30-61``): snap span boundaries to
  overlapping idle runs, clamped by the neighbor's minimum duration.

Explode is built-in (``explode(sequence(...))``) — the UDTF role with zero
Python. The overlap join is a range join: at scale, both sides are
bucketed by (key, coarse time bucket) so the non-equi predicate only runs
within co-located buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.functions.scalars import (
    epoch_sec_fn,
    sec_to_ntz,
)
from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast


def expand_spans_to_grid(
    spans: DataFrame,
    rate: float = 1.0,
    key: str = "conv_id",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Dense grid rows per span with position-in-span features.

    Index math mirrors ``linguistic_feature.py:71-79``:
    ``start_idx = round(start·rate)``, ``end_idx = round(end·rate)``; frame
    t gets ``pos_in = t/rate − start`` and ``pos_out = end − t/rate``.
    """
    payload_cols = payload_cols if payload_cols is not None else [
        c for c in spans.columns if c not in (key, start_col, end_col)
    ]
    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    g = spans.select(
        key,
        *payload_cols,
        s.alias("_s"),
        e.alias("_e"),
        F.explode(
            F.sequence(F.round(s * rate).cast("long"), F.round(e * rate).cast("long"))
        ).alias("grid_idx"),
    )
    t = F.col("grid_idx") / F.lit(float(rate))
    return g.select(
        key,
        *payload_cols,
        "grid_idx",
        (t - F.col("_s")).alias("pos_in"),
        (F.col("_e") - t).alias("pos_out"),
    )


def mask_from_spans(
    frames: DataFrame,
    spans: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    mask_col: str = "in_span",
) -> DataFrame:
    """Flag frames covered by any span (``extract_silence_from_phoneme.py:28-33``).

    Implemented as a left-semi range join; frames keep all columns and
    gain a boolean. Spans are smaller than frames but SCALE WITH the
    conversation count, so no forced broadcast — AQE broadcasts at
    runtime while the span side is actually small, and falls back to a
    shuffle join when it is not (a forced hint past the 8 GB ceiling
    would fail the job).
    """
    sp = spans.select(
        F.col(key).alias("_k"), F.col("start_ts").alias("_s"), F.col("end_ts").alias("_e")
    )
    covered = (
        frames.join(
            maybe_broadcast(sp),
            (frames[key] == F.col("_k")) & (frames[ts] >= F.col("_s")) & (frames[ts] < F.col("_e")),
            "left_semi",
        )
        .select(key, ts)
        .distinct()  # duplicate (key, ts) frames must not multiply on join-back
        .withColumn("_cov", F.lit(True))
    )
    return frames.join(covered, [key, ts], "left").withColumn(
        mask_col, F.coalesce(F.col("_cov"), F.lit(False))
    ).drop("_cov")


def overlap_join(
    left_spans: DataFrame,
    right_spans: DataFrame,
    key: str = "conv_id",
    l_start: str = "start_ts",
    l_end: str = "end_ts",
    r_start: str = "start_ts",
    r_end: str = "end_ts",
    suffix: str = "_r",
) -> DataFrame:
    """Interval overlap join: pairs with ``l_start < r_end AND r_start < l_end``
    — an equi-join on ``key`` plus the overlap filter."""
    rs = right_spans.select(
        F.col(key),
        *[
            F.col(c).alias(f"{c}{suffix}")
            for c in right_spans.columns
            if c != key
        ],
    )
    cond_overlap = (F.col(l_start) < F.col(f"{r_end}{suffix}")) & (
        F.col(f"{r_start}{suffix}") < F.col(l_end)
    )
    return left_spans.join(rs, key, "inner").where(cond_overlap)


def adjust_boundaries_to_idle(
    spans: DataFrame,
    idle_runs: DataFrame,
    key: str = "conv_id",
    min_span_seconds: float = 0.0,
) -> DataFrame:
    """Snap span starts/ends onto overlapping idle-run edges
    (``extract_silence_expanded_label.py:30-61`` semantics, recast):

    - if an idle run straddles a span's START (idle.start < span.start <=
      idle.end), the span start moves LEFT to the idle start — but not past
      ``prev_end − min_span_seconds``-style clamp of the neighbor; here the
      clamp keeps the previous span at least ``min_span_seconds`` long.
    - symmetric for the span's END moving RIGHT to the idle end.

    Spans within one conversation are contiguous (reference invariant), so
    after moving an edge we re-share it with the neighbor via lag/lead —
    preserving the contiguity invariant the reference asserts
    (``phoneme.py:69-74``).

    Dtype-preserving: numeric bounds come back numeric, TIMESTAMP comes
    back TIMESTAMP, TIMESTAMP_NTZ comes back NTZ — all through
    timezone-independent conversions (``epoch_sec_fn``/``sec_to_ntz``;
    the old unconditional ``cast("timestamp")`` output minted instants
    from wall-clock epochs via the session timezone).
    """
    to_sec = epoch_sec_fn(spans, "start_ts")
    in_t = spans.schema["start_ts"].dataType.simpleString()
    if in_t == "timestamp_ntz":
        back = sec_to_ntz
    elif in_t == "timestamp":
        back = lambda c: c.cast("timestamp")  # noqa: E731 — epoch → instant, tz-free
    else:
        back = lambda c: c  # noqa: E731 — numeric in, numeric out
    s, e = to_sec(F.col("start_ts")), to_sec(F.col("end_ts"))
    ir_sec = epoch_sec_fn(idle_runs, "start_ts")
    ir = idle_runs.select(
        F.col(key),
        ir_sec(F.col("start_ts")).alias("_is"),
        ir_sec(F.col("end_ts")).alias("_ie"),
    )
    # idle runs scale with the conversation count — estimate-gated hint
    j = spans.join(maybe_broadcast(ir), key, "left")
    start_hit = F.when((F.col("_is") < s) & (s <= F.col("_ie")), F.col("_is"))
    end_hit = F.when((F.col("_is") <= e) & (e < F.col("_ie")), F.col("_ie"))
    agg = j.groupBy(*spans.columns).agg(
        F.min(start_hit).alias("_new_s"), F.max(end_hit).alias("_new_e")
    )
    w = Window.partitionBy(key).orderBy("span_id")
    prev_start = F.lag(F.coalesce(F.col("_new_s"), s)).over(w)
    new_s = F.coalesce(F.col("_new_s"), s)
    new_e = F.coalesce(F.col("_new_e"), e)
    # clamp: moved start may not make the previous span shorter than min
    new_s = F.when(
        prev_start.isNotNull() & (new_s < prev_start + min_span_seconds),
        prev_start + min_span_seconds,
    ).otherwise(new_s)
    adjusted = agg.withColumn("_adj_s", new_s).withColumn("_adj_e", new_e)
    # contiguity repair: end of span i := start of span i+1 (if any)
    nxt = F.lead("_adj_s").over(w)
    return adjusted.select(
        key,
        "span_id",
        *[c for c in spans.columns if c not in (key, "span_id", "start_ts", "end_ts")],
        back(F.col("_adj_s")).alias("start_ts"),
        back(F.coalesce(nxt, F.col("_adj_e"))).alias("end_ts"),
    )
