"""Deterministic synthetic transcript generator (FIXTURES.md contract).

Mirrors the reference's fixture strategy — closed-form seeded synthetic
inputs with paired low/high populations
(``/root/reference/tests/test_extract/conftest.py:29-77``) and a long-tail
size distribution analogous to its duration-bucketed packing concern
(``/root/reference/src/extractor/extract_f0_range.py:50-78``).

Generation is FULLY DISTRIBUTED: ``spark.range(n_convs)`` → closed-form
column arithmetic → ``explode(sequence(...))`` per conversation. No driver
loops, no RNG objects — every value is a pure function of
``(conv_idx, turn_idx, seed)``, so the table is reproducible at any scale
and any partitioning (the per-turn text-equality invariant is checkable).

At 100 TB scale this generator is the same plan: ``spark.range`` parallelizes
perfectly, explode happens partition-local, and the only shuffle is the
optional sorted write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Knuth multiplicative-hash constant; arithmetic is pure-column so the same
# values are derivable in any engine (tests re-derive them in numpy).
_MIX = 2654435761
_MOD = 2147483647

BASE_EPOCH = "2024-01-01 00:00:00"
SESSION_GAP_SECONDS = 300.0  # idle threshold used by fixtures & tests


def _mix(col: Column, salt: int) -> Column:
    """Deterministic pseudo-hash of an integer column, in [0, _MOD).

    Operand reduced mod 2^31-1 BEFORE the multiply so the product stays
    < 2^31 · _MIX ≈ 5.7e18 < Long.MAX — no overflow at any n_convs."""
    return (F.pmod(col + F.lit(salt), F.lit(_MOD)) * F.lit(_MIX)) % F.lit(_MOD)


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    seed: int = 42,
    mega_every: int = 97,
    mega_turns: int = 2_000,
    partitions: int | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts).

    - conversation sizes: long tail 5..50 turns; every ``mega_every``-th
      conversation is a mega-conversation of ``mega_turns`` turns (skew
      fixture for the salting engine).
    - roles cycle user→assistant or user→assistant→tool keyed by conv hash.
    - ts = BASE_EPOCH + conv-specific offset + cumulative per-turn gaps;
      deterministic large gaps (> SESSION_GAP_SECONDS) appear whenever
      ``turn_idx % 17 == 13`` to exercise sessionization.
    """
    base = spark.range(n_convs, numPartitions=partitions)
    conv = base.withColumn("conv_hash", _mix(F.col("id"), seed))
    conv = conv.withColumn(
        "n_turns",
        F.when((F.col("id") % mega_every == 0) & (F.col("id") > 0), F.lit(mega_turns))
        .otherwise(F.lit(5) + (F.col("conv_hash") % 46).cast("int")),
    )
    df = conv.select(
        F.col("id").alias("conv_idx"),
        F.col("conv_hash"),
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    th = _mix(F.col("conv_idx") * F.lit(100_003) + F.col("turn_idx"), seed + 1)
    cycle3 = (F.col("conv_hash") % 2) == 0
    pos3 = F.col("turn_idx") % 3
    pos2 = F.col("turn_idx") % 2
    role = F.when(cycle3 & (pos3 == 0), "user").when(
        cycle3 & (pos3 == 1), "assistant"
    ).when(cycle3, "tool").when(pos2 == 0, "user").otherwise("assistant")
    gap = (
        F.lit(5.0)
        + (th % 50).cast("double")
        + F.when(F.col("turn_idx") % 17 == 13, F.lit(SESSION_GAP_SECONDS + 60.0)).otherwise(0.0)
    )
    w_cum = F.sum(gap).over(
        Window.partitionBy("conv_idx").orderBy("turn_idx").rowsBetween(Window.unboundedPreceding, 0)
    )
    conv_id = F.format_string("conv%06d", F.col("conv_idx"))
    out = (
        df.withColumn("cum_gap", w_cum)
        .select(
            conv_id.alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            role.alias("role"),
            F.concat(
                conv_id,
                F.lit(":"),
                F.col("turn_idx").cast("string"),
                F.lit(":"),
                F.repeat(F.lit("x"), (F.col("turn_idx") % 37).cast("int")),
            ).alias("text"),
            F.when(
                role == "tool", F.format_string("tool%d", (F.col("turn_idx") % 5).cast("int"))
            ).alias("tool"),
            (
                F.to_timestamp(F.lit(BASE_EPOCH))
                + F.make_interval(secs=F.col("cum_gap") + (F.col("conv_idx") % 1000).cast("double"))
            ).alias("ts"),
        )
    )
    return out


def generate_turn_features(
    spark: SparkSession,
    n_convs: int = 200,
    seed: int = 42,
    **kwargs,
) -> DataFrame:
    """turn_features(conv_id, turn_idx, ts, feature, valid) — SamplingData analog.

    feature = linspace(80, 120, n_turns) * scale with scale ∈ {2.0, 0.5} by
    population (reference low/high f0 fixture,
    ``/root/reference/tests/utility.py:26-44``); ``valid=false`` rows at
    turn_idx % 11 == 7 (unvoiced-frame analog, ``f0.py:63-83``).
    """
    t = generate_transcripts(spark, n_convs=n_convs, seed=seed, **kwargs)
    conv_idx = F.substring("conv_id", 5, 6).cast("long")
    w = Window.partitionBy("conv_id")
    n_turns = F.max("turn_idx").over(w) + 1
    scale = F.when(conv_idx % 2 == 0, 2.0).otherwise(0.5)
    ramp = F.lit(80.0) + F.lit(40.0) * F.col("turn_idx") / F.greatest(n_turns - 1, F.lit(1))
    return t.select(
        "conv_id",
        "turn_idx",
        "ts",
        (ramp * scale).alias("feature"),
        (F.col("turn_idx") % 11 != 7).alias("valid"),
    )

