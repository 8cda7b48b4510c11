"""Window-structured operators: lag/lead context + rolling-frame degeneration.

Reference parity targets:
- pre/post context features — previous/next interval's attributes with
  synthetic defaults at boundaries
  (``/root/reference/src/acoustic_feature_extractor/data/linguistic_feature.py:81-117``).
- frame degeneration — ``SamplingData.degenerate``: center-pad, frame into
  ``(frame_length, hop_length)`` windows, reduce min/max/mean/median, output
  rate = rate / hop
  (``/root/reference/src/acoustic_feature_extractor/data/sampling_data.py:141-176``).

Everything here is pure Catalyst (Window specs + built-in aggregates):
whole-stage-codegen'd, one shuffle on the partition key, no Python in the
hot path. At 100 TB the single ``partitionBy(conv_id)`` exchange is the
only cost; mega-conversations are handled by the two-phase salted variant
in ``skew.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEGENERATE_AGGS = ("min", "max", "mean", "median")


def ordered_window(key: str = "conv_id", order: str = "turn_idx"):
    return Window.partitionBy(key).orderBy(order)


def with_context_features(
    df: DataFrame,
    cols: list[str],
    key: str = "conv_id",
    order: str = "turn_idx",
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Add prev_/next_ columns for each requested column.

    Boundary rows get ``defaults[col]`` (the reference synthesizes a zero-
    duration "space" phoneme at boundaries, ``linguistic_feature.py:81-95``;
    our default plays that role).
    """
    w = ordered_window(key, order)
    defaults = defaults or {}
    out = df
    for col in cols:
        default = defaults.get(col)
        prev = F.lag(col).over(w)
        nxt = F.lead(col).over(w)
        if default is not None:
            prev = F.coalesce(prev, F.lit(default))
            nxt = F.coalesce(nxt, F.lit(default))
        out = out.withColumn(f"prev_{col}", prev).withColumn(f"next_{col}", nxt)
    return out


def degenerate(
    df: DataFrame,
    value_col: str,
    frame_length: int,
    hop_length: int = 1,
    aggs: tuple[str, ...] = DEGENERATE_AGGS,
    key: str = "conv_id",
    order: str = "turn_idx",
) -> DataFrame:
    """Rolling min/max/mean/median over a centered frame, then hop-downsample.

    The frame centers as the reference pads: ``frame_length//2`` rows on the
    left and ``frame_length - 1 - frame_length//2`` on the right
    (``sampling_data.py:150-158``), i.e. frame *i* covers source rows
    ``[i - L//2, i + L - 1 - L//2]``.

    ``hop_length > 1`` keeps every hop-th row (output rate = rate/hop, the
    reference's ``sampling_data.py:172-175``). Median is exact
    (``percentile(col, 0.5)``) — matches ``numpy.median`` on the window.
    Edge windows shrink instead of reading padding rows; the reference pads
    with a constant.
    """
    lo = -(frame_length // 2)
    w = ordered_window(key, order).rowsBetween(lo, frame_length - 1 + lo)
    exprs: dict[str, Column] = {}
    for a in aggs:
        if a == "min":
            exprs["min"] = F.min(value_col).over(w)
        elif a == "max":
            exprs["max"] = F.max(value_col).over(w)
        elif a == "mean":
            exprs["mean"] = F.avg(value_col).over(w)
        elif a == "median":
            exprs["median"] = F.expr(f"percentile({value_col}, 0.5)").over(w)
        else:
            raise ValueError(f"unknown degenerate agg: {a}")
    out = df
    for name, c in exprs.items():
        out = out.withColumn(f"{value_col}_{name}", c)
    if hop_length > 1:
        out = out.where(F.col(order) % hop_length == 0)
    return out


def pad_segments_to_max(
    df: DataFrame,
    value_col: str,
    key: str = "conv_id",
    segment_col: str = "session_id",
    order: str = "turn_idx",
) -> DataFrame:
    """Pad every segment of an entity to the entity's max segment length
    (W7 — ``SamplingData.pad`` / length alignment,
    ``/root/reference/src/acoustic_feature_extractor/data/sampling_data.py:62-81``).

    The reference pads shorter sources to the longest with an estimated
    padding value taken from the sequence edge; here the pad value is the
    segment's LAST value (edge-consensus analog). Output rows: ``(key, segment, pos, value, is_pad)`` where
    ``pos`` is the 0-based position inside the segment — all segments of an
    entity end up the same length.

    Scale shape: one window shuffle for positions + a tiny per-segment
    summary (one row per segment) that generates the pad rows via
    ``explode(sequence(...))`` — pad-row fan-out never touches the fact
    table's shuffle.
    """
    w = Window.partitionBy(key, segment_col).orderBy(order)
    d = df.withColumn("_pos", (F.row_number().over(w) - 1).cast("long"))
    sizes = d.groupBy(key, segment_col).agg(
        F.count("*").alias("_n"),
        F.max_by(value_col, "_pos").alias("_pad_v"),
    )
    w_key = Window.partitionBy(key)
    sizes = sizes.withColumn("_max_n", F.max("_n").over(w_key))
    pads = (
        sizes.where(F.col("_n") < F.col("_max_n"))
        .select(
            key,
            segment_col,
            F.explode(F.sequence(F.col("_n"), F.col("_max_n") - 1)).alias("_pos"),
            F.col("_pad_v").alias(value_col),
        )
        .withColumn("is_pad", F.lit(True))
    )
    core = d.select(key, segment_col, "_pos", value_col).withColumn(
        "is_pad", F.lit(False)
    )
    return core.unionByName(pads).withColumnRenamed("_pos", "pos")


def topk_per_group(
    df: DataFrame,
    group: str | list[str],
    order_by: list,
    k: int,
) -> DataFrame:
    """Exact top-k per group, two-phase salted — the scale-safe form of
    ``row_number().over(partitionBy(group)) <= k``.

    The naive single window puts EVERY row of a group into one task; with
    few/mega groups that is the straggler (10^12 rows / 3 groups = 3
    tasks). Phase 1 ranks inside (group, salt-bucket) — same shuffle
    volume, but task size is bounded by the bucket — and keeps each
    bucket's top k. Phase 2 re-ranks the survivors per group: at most
    ``32 × k`` rows per group, a tiny window. The union of per-bucket
    top-k provably contains the global top-k (any global winner is also a
    winner inside its own bucket), so the result is EXACT — provided
    ``order_by`` is a TOTAL order (add unique tie-break columns; with
    ties the local prune could otherwise drop a row an arbitrary global
    tie-pick would have kept).

    The salt is ``spark_partition_id() % 32``: free (no hash evaluation), and
    any assignment whatsoever yields the same final result, so plan
    determinism is not required of it.
    """
    groups = [group] if isinstance(group, str) else list(group)
    d = df.withColumn("_salt", F.spark_partition_id() % 32)
    w1 = Window.partitionBy(*groups, "_salt").orderBy(*order_by)
    local = (
        d.withColumn("_lr", F.row_number().over(w1))
        .where(F.col("_lr") <= k)
        .drop("_lr")
    )
    w2 = Window.partitionBy(*groups).orderBy(*order_by)
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .drop("_salt")
    )
