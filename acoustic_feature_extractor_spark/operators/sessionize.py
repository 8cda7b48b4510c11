"""Sessionization: gap-based splitting, keypoint splitting, run boundaries.

Reference parity targets:
- gap split — ``tool/tool_split_wave.py:47-76``: split a stream where
  silence ≥ min_silence_second; our analog splits a conversation where the
  inter-turn gap exceeds a threshold.
- keypoint split — ``sampling_data.py:53-60`` + ``extract_splited_local.py:24-49``:
  split a series at given keypoint seconds (bucket by keypoints).
- run-boundary detection — ``extract_silence_expanded_label.py:30-44``:
  boolean-mask diff → run starts/ends.

All pure Catalyst: lag + conditional cumsum. One shuffle on the entity key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.functions.scalars import epoch_sec_fn
from pyspark.sql.window import Window


def sessionize(
    df: DataFrame,
    gap_seconds: float,
    key: str = "conv_id",
    ts: str = "ts",
    order: str = "turn_idx",
) -> DataFrame:
    """session_id = running count of gaps > threshold (0-based per key).

    ``gap = ts - lag(ts)``; a row starts a new session when the gap strictly
    exceeds ``gap_seconds`` (reference uses >= min_silence_second on silence
    runs; with point events the strict/超 analogy is ">" on the inter-turn
    delta — tests pin this choice).
    """
    w = Window.partitionBy(key).orderBy(order)
    sec = epoch_sec_fn(df, ts)(F.col(ts))  # tz-independent (r4 non-UTC gate)
    gap = sec - F.lag(sec).over(w)
    is_new = F.when(gap > gap_seconds, 1).otherwise(0)
    run = Window.partitionBy(key).orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(is_new).over(run).cast("int"))


def split_at_keypoints(
    df: DataFrame,
    keypoints: list[float],
    key: str = "conv_id",
    ts_seconds_col: str = "t_rel",
    segment_col: str = "segment_id",
) -> DataFrame:
    """Bucket rows by keypoint boundaries (``sampling_data.split`` analog).

    ``keypoints`` are relative-seconds boundaries; segment_id = number of
    keypoints ≤ t_rel (width_bucket semantics). Keypoints are a tiny list →
    a literal array, evaluated JVM-side per row; no join, no shuffle.
    """
    arr = F.array(*[F.lit(float(k)) for k in sorted(keypoints)])
    seg = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, k: acc + F.when(F.col(ts_seconds_col) >= k, 1).otherwise(0),
    )
    return df.withColumn(segment_col, seg.cast("int"))


def run_boundaries(
    df: DataFrame,
    mask_col: str,
    key: str = "conv_id",
    order: str = "turn_idx",
) -> DataFrame:
    """Assign run ids to maximal constant-mask runs and flag change points.

    The reference computes run starts/ends via ``diff(r_[False, mask])``
    (``extract_silence_expanded_label.py:30-44``); here ``is_change`` marks
    the first row of each run and ``run_id`` is the cumsum of changes, so
    (key, run_id) groups are exactly the reference's runs.
    """
    w = Window.partitionBy(key).orderBy(order)
    prev = F.lag(mask_col).over(w)
    is_change = F.when(prev.isNull() | (prev != F.col(mask_col)), 1).otherwise(0)
    run = Window.partitionBy(key).orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("is_change", is_change.cast("boolean")).withColumn(
        "run_id", F.sum(is_change).over(run).cast("int")
    )


def session_bounds(
    df: DataFrame,
    key: str = "conv_id",
    session_col: str = "session_id",
    ts: str = "ts",
) -> DataFrame:
    """Per-session summary (start/end/n_turns) — the split-segment manifest."""
    return df.groupBy(key, session_col).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count("*").alias("n_turns"),
    )
