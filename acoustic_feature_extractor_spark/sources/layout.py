"""Multi-dimensional file clustering (z-order) for multi-column skipping.

``repartitionByRange(n, col)`` gives each file a tight min/max on ONE
column — pruning on anything else degrades to a full scan. The lakehouse
answer (Delta ``OPTIMIZE ZORDER BY``, Iceberg's z-order rewrite) is to
sort files along a space-filling curve over SEVERAL columns: each file
then covers a small hyper-rectangle, so the snapshot log's per-file
[min, max] stats (``snapshots.plan_scan``) skip on every clustered
column at once.

The curve here is the classic bit-interleaved Morton/z-value, built from
pure Column algebra (shift amounts are python ints, so everything stays
in whole-stage codegen — no UDF, no SQL strings):

1. each column rank-normalizes to a ``2^bits``-bin index with
   ``width_bucket`` over its global [min, max] (one 1-row aggregate job);
2. the per-column bin bits interleave into one bigint z-value
   (bit b of column c lands at position ``b·n_cols + c``);
3. ``repartitionByRange`` over the z-value range-clusters the files, and
   a within-partition sort tightens each file's per-column envelope.

Uniform binning keeps the bin map O(1) per row; heavily skewed columns
trade some balance for it (the range partitioner still balances FILE
sizes on the z-value — skew moves bucket boundaries, not row counts; only
the per-file envelopes widen). ``bits`` caps resolution: n_cols·bits must
fit a signed 64-bit value, and 2^bits bins per column is plenty once
file counts are in the thousands.

Scale shape: one pass for the min/max row, one range shuffle for the
layout — the same cost as a single-column range cluster — after which
every conjunctive range query reads O(matching hyper-rectangles) files
instead of O(table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from acoustic_feature_extractor_spark.functions.scalars import ntz_epoch_us

DEFAULT_BITS = 12


def _as_double(df: DataFrame, col: str) -> Column:
    """Numeric view of a clusterable column: timestamps through
    ``unix_micros`` (order-preserving), numerics through a double cast."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampType):
        # a true instant already has a tz-free epoch
        return F.unix_micros(F.col(col)).cast("double")
    if isinstance(dt, (T.TimestampNTZType, T.DateType)):
        # NTZ arithmetic: order-preserving AND session-tz-independent, so
        # z-order keys and pruning bounds agree across driver sessions
        # (the old cast("timestamp") localized the wall time first)
        return ntz_epoch_us(F.col(col)).cast("double")
    if isinstance(dt, (T.StringType, T.BinaryType, T.ArrayType, T.MapType, T.StructType)):
        raise TypeError(
            f"zorder column {col!r} has non-numeric type {dt.simpleString()}; "
            "z-ordering needs a numeric or time column (hash strings to a "
            "numeric surrogate first if key locality is what you want)"
        )
    return F.col(col).cast("double")


def zorder_key(
    df: DataFrame, cols: list[str], bounds: dict, bits: int = DEFAULT_BITS
) -> Column:
    """The interleaved z-value Column for ``cols`` given global
    ``bounds`` (col → (min, max) as floats). NULLs and degenerate
    (min == max) columns bin to 0 — they cluster together instead of
    poisoning the curve."""
    if len(cols) * bits > 62:
        raise ValueError(
            f"{len(cols)} cols × {bits} bits = {len(cols) * bits} z-bits "
            "exceeds a signed 64-bit value; lower bits"
        )
    n_bins = 1 << bits
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = bounds[c]
        if mn is None or mx is None or mn == mx:
            continue  # constant/all-null column contributes bin 0
        wb = F.width_bucket(_as_double(df, c), F.lit(mn), F.lit(mx), F.lit(n_bins))
        bin_ = F.coalesce(
            F.least(F.greatest(wb - 1, F.lit(0)), F.lit(n_bins - 1)), F.lit(0)
        ).cast("long")
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bin_, b).bitwiseAND(F.lit(1)), b * len(cols) + ci
            )
    return z


def zorder_layout(
    df: DataFrame, cols: list[str], n_files: int, bits: int = DEFAULT_BITS
) -> DataFrame:
    """Range-cluster ``df`` into ``n_files`` partitions along the z-curve
    of ``cols`` (commit the result with ``snapshots.commit`` to persist
    the per-file envelopes). One 1-row min/max aggregate + one range
    shuffle; the output frame carries no helper columns."""
    aggs = []
    for c in cols:
        v = _as_double(df, c)
        aggs += [F.min(v).alias(f"_mn_{c}"), F.max(v).alias(f"_mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    bounds = {c: (row[f"_mn_{c}"], row[f"_mx_{c}"]) for c in cols}
    z = zorder_key(df, cols, bounds, bits=bits)
    return (
        df.withColumn("_z", z)
        .repartitionByRange(int(n_files), "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
