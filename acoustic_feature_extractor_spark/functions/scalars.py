"""Scalar function surface (SURVEY.md §2.7) — all JVM-side built-ins.

Reference parity targets cited per function. Nothing here is a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_NTZ_EPOCH = "1970-01-01 00:00:00"


def ntz_epoch_us(ts: Column | str) -> Column:
    """Timezone-INDEPENDENT epoch MICROSECONDS (long) of a wall-clock value.

    Pure field extraction: ``unix_date`` of the date part plus the
    time-of-day micros. The naive ``cast("timestamp").cast("double")``
    idiom instead interprets the wall time in the SESSION timezone — an
    environment setting this engine does not control (the driver supplies
    its own session). A constant offset cancels in difference-based
    operators, but (a) absolute bucket/boundary exports shift outright,
    and (b) across a DST transition the offset CHANGES mid-range, so even
    differences and orderings break on any table spanning one — at
    100 TB a year of data spans two.

    NOTE ``timestamp_diff`` against an NTZ epoch literal is NOT a safe
    alternative: Spark coerces NTZ operands to TIMESTAMP through the
    session timezone first (measured: wall 2024-03-10 02:05 — inside the
    America/New_York spring-forward gap — drifts +1h under that session
    tz). NTZ − NTZ *subtraction*, however, IS pure: it yields a
    DAY-TO-SECOND interval computed directly on the wall-clock micros,
    never consulting the session timezone (measured identical under
    UTC / America/New_York / Asia/Kathmandu, including inside the DST
    gap).

    Implementation: subtract the epoch as an NTZ literal and decompose
    the resulting interval. Interval field extraction is pure div/mod
    arithmetic on the interval's single micros long — no per-field
    calendar decomposition — which measures ~2× faster than the
    equivalent ``unix_date``/``hour``/``minute`` timestamp-field
    formulation (0.9 s vs 1.8 s per 100M rows at local[32]; a raw
    session-tz cast is 0.5 s, the remaining gap is the decimal math in
    the SECOND field). Exact for fractional seconds, pre-1970 values,
    and the full ±~292,000-year day-time-interval range (pytest-pinned).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    iv = c.cast("timestamp_ntz") - F.lit(_NTZ_EPOCH).cast("timestamp_ntz")
    day, hour, minute = [
        F.date_part(F.lit(f), iv) for f in ("DAY", "HOUR", "MINUTE")
    ]
    # SECOND carries the fractional micros as an exact DECIMAL(8,6)
    sec_us = F.round(F.date_part(F.lit("SECOND"), iv) * F.lit(1000000)).cast("long")
    return (
        ((day.cast("long") * 24 + hour) * 60 + minute) * 60
    ) * F.lit(1000000).cast("long") + sec_us


def ntz_epoch_sec(ts: Column | str) -> Column:
    """Timezone-independent epoch seconds (double) — see ntz_epoch_us."""
    return ntz_epoch_us(ts) / F.lit(1000000.0)


def epoch_sec_fn(df, col_name: str):
    """Pick the timezone-independent epoch-seconds conversion for a
    column by its ACTUAL dtype (returns a Column → Column function usable
    on derived columns of the same dtype):

    - TIMESTAMP_NTZ / DATE / STRING (wall-clock values) → NTZ-epoch
      field extraction (:func:`ntz_epoch_sec`), never the session tz
      (string→TIMESTAMP and date→TIMESTAMP casts localize; string→NTZ
      and date→NTZ are pure parses);
    - numerics → already epoch seconds, identity cast;
    - true instants (TIMESTAMP) → the direct epoch cast (tz-free by
      definition of an instant).

    The old one-size ``cast("timestamp").cast("double")`` idiom silently
    localized NTZ inputs in the session timezone (r4 non-UTC gate)."""
    t = df.schema[col_name].dataType.simpleString()
    if t in ("double", "float", "bigint", "int", "smallint", "tinyint"):
        return lambda c: c.cast("double")
    if t == "timestamp":
        return lambda c: c.cast("double")
    return ntz_epoch_sec


def sec_to_ntz(sec: Column) -> Column:
    """Inverse of :func:`ntz_epoch_sec`: wall-clock epoch seconds back to
    TIMESTAMP_NTZ, never consulting the session timezone (the
    ``epoch.cast("timestamp")`` idiom localizes instead)."""
    return F.timestamp_add(
        "MICROSECOND",
        F.round(sec * F.lit(1000000.0)).cast("long"),
        F.lit(_NTZ_EPOCH).cast("timestamp_ntz"),
    )


def searchsorted(col: Column | str, bounds: list) -> Column:
    """Number of ``bounds`` values ≤ ``col`` (numpy.searchsorted side
    'right' over a SORTED literal boundary list), as a balanced tree of
    nested CASE WHENs.

    This is the range-chunk assignment primitive (weighted percentile,
    stratified sample): a linear ``aggregate`` over the boundary array
    costs O(n_bounds) INTERPRETED steps per fact row — fine at 64
    boundaries, a hot-path tax at a 2048-partition cluster. The CASE tree
    is O(n_bounds) in expression size but O(log n) comparisons per row at
    runtime (only the taken branch evaluates), and stays inside
    whole-stage codegen.

    Pass ``col`` as a column NAME to build the tree as ONE parsed F.expr
    string — a python-built F.when tree costs ~4 py4j round trips per
    boundary (hundreds of ms of driver latency per plan at cluster
    partition counts); the string parses JVM-side in a single call.
    """
    if not bounds:
        return F.lit(0)

    if isinstance(col, str):
        def lit(v) -> str:
            if isinstance(v, str):
                # Spark SQL string literals use backslash escapes
                return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            return repr(float(v)) + "d" if isinstance(v, float) else str(v)

        def rec_s(lo: int, hi: int) -> str:
            if lo == hi:
                return str(lo)
            mid = (lo + hi + 1) // 2
            return (
                f"CASE WHEN {col} >= {lit(bounds[mid - 1])} "
                f"THEN {rec_s(mid, hi)} ELSE {rec_s(lo, mid - 1)} END"
            )

        return F.expr(rec_s(0, len(bounds)))

    def rec(lo: int, hi: int) -> Column:
        # result pid is known to lie in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return F.when(col >= F.lit(bounds[mid - 1]), rec(mid, hi)).otherwise(
            rec(lo, mid - 1)
        )

    return rec(0, len(bounds))
