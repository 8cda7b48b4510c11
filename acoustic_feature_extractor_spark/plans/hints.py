"""Size-gated broadcast hints.

A forced ``F.broadcast`` on a relation that grows with the input is a
scale hazard: past the 8 GB broadcast ceiling the job FAILS outright
instead of falling back to a shuffle join. But dropping every hint costs
real time at small scale, where AQE's runtime re-planning adds a stage
boundary per join. The middle path: gate the hint on **Catalyst's own
optimizer estimate** (``optimizedPlan().stats().sizeInBytes`` — derived
from source file sizes and plan shape, computed on the driver with NO
job). Small estimate → plan the broadcast statically; large or unknown
estimate → no hint, AQE decides at runtime from true shuffle sizes.

The estimate is conservative in the right direction: it scales with the
input files, so a per-document or per-(key, chunk) side table that is
tiny at test scale but fact-scaled at 100 TB loses the hint exactly when
it must.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# hint only well under the default 8 GB hard ceiling and the session's
# 64 MB autoBroadcastJoinThreshold
DEFAULT_BROADCAST_CAP = 64 << 20


# a join stack roughly MULTIPLIES leaf size estimates, so the estimate's
# bit length grows ~linearly with leaf count (~64 bits per leaf). Capping
# leaves at 256 bounds the BigInt at ~16k bits (~5k digits) — microseconds
# to serialize — while every realistic broadcast candidate sits far below.
_MAX_PLAN_LEAVES = 256


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimizer size estimate for the plan's output, in bytes
    (driver-side, no job). None when the bridge/estimate is unavailable
    or the plan is too deep to ask safely.

    The estimate is a BigInt whose magnitude MULTIPLIES through join
    stacks — on iterative plans (connected components' hash-min loop) it
    reaches millions of DIGITS, and py4j stringifies it INSIDE the
    ``sizeInBytes()`` call itself (BigInteger.toString is super-linear;
    observed 700+ s wedging the py4j thread — and a Python-side
    ``bitLength`` probe can't help, because the auto-conversion has
    already happened by the time Python holds the value). The guard must
    therefore fire BEFORE the call: probe ``collectLeaves().size()``
    JVM-side — O(plan), returns a primitive — and refuse plans with more
    leaves than any broadcastable relation would have, which bounds the
    BigInt's digits to harmless size for every plan we do ask about.
    A >63-bit estimate afterwards is definitionally not broadcastable."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.collectLeaves().size() > _MAX_PLAN_LEAVES:
            return None
        est = int(plan.stats().sizeInBytes())
        return None if est.bit_length() > 63 else est
    except Exception:
        return None


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` iff the optimizer's size estimate is at most
    ``DEFAULT_BROADCAST_CAP``; the unmodified plan (AQE decides) otherwise
    or when no estimate exists."""
    est = estimated_size_bytes(df)
    if est is not None and est <= DEFAULT_BROADCAST_CAP:
        return F.broadcast(df)
    return df
