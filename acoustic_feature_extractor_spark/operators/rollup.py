"""Time-bucketed (hypertable-style) rollups + re-aggregation cascades.

The reference's statistics sink reduces each file to one summary row
(``extract_f0_statistics.py:28-41``); the charter's scale analog is the
TimescaleDB/Druid continuous-aggregate pattern: reduce an event stream to
per-(entity, time-bucket) summary rows once at fine grain, then answer
every coarser-grain question by RE-aggregating the tiny rollup instead of
rescanning the fact table.

Scale shape: one ``groupBy(bucket, entity)`` — Catalyst plans it
partial/final, so the shuffle carries one row per (entity, bucket) per
task, never raw events. A cascade level re-aggregates the previous level:
at 10^12 events, hour→day→month touches the fact table exactly once.

Only decomposable aggregates may cascade (count/sum/min/max re-aggregate
losslessly; avg is carried as sum+count and finalized per level —
averaging averages would weight buckets, not rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.functions.scalars import (
    ntz_epoch_sec,
    sec_to_ntz,
)

def _change_sign(change_type_col: str):
    """±1 from a CDC change-type column, guarded: any value outside
    {insert, delete} raises at execution time instead of silently
    subtracting (a typo'd or future tag such as ``update_postimage``
    must never corrupt retractable counters). Shared by every
    ``*_apply_changes`` fold in this module."""
    c = F.col(change_type_col)
    return (
        F.when(c == F.lit("insert"), F.lit(1))
        .when(c == F.lit("delete"), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{change_type_col} must be 'insert' or 'delete', got: "
                    ),
                    F.coalesce(c.cast("string"), F.lit("NULL")),
                )
            ).cast("int")
        )
    )



def time_bucket(ts: Column | str, bucket_seconds: float) -> Column:
    """Bucket start (TIMESTAMP_NTZ) of ``ts``: floor(epoch / w) * w — the
    standard hypertable bucketing transform, a pure projection. Wall-clock
    (NTZ) arithmetic end to end: the old ``cast("timestamp")`` round-trip
    interpreted the wall time in the driver's session timezone, shifting
    every exported bucket boundary under a non-UTC session (caught by the
    r4 non-UTC oracle replay gate).

    Epoch-aligned calendar widths (minute / hour / day — the widths the
    coarsening cascades actually use) take a short fast path built from
    pure field ops: ``cast(date)`` (wall-field extraction, never the
    session tz) plus HOUR/MINUTE extracted from the NTZ−NTZ time-of-day
    interval. Measured bit-identical to the general path (incl. DST-gap
    wall times, pre-1970, fractional seconds; tests pin it) while
    collapsing the ~12-node epoch decomposition each call inlines — the
    general path nested twice (fine bucket → coarser re-bucket) pushed a
    monster ``isnotnull`` filter into every fact-side scan and measured
    1.7× slower on the sketch cascade. ``date_trunc`` is NOT usable here:
    it returns session-tz TIMESTAMP (coerces NTZ through the session
    zone), and so does ``hour()``/``minute()`` on NTZ input (measured: a
    DST-gap wall time under America/New_York shifts +1h through both).
    WEEK has no fast path — epoch (Thursday) ≠ ISO Monday truncation."""
    c = (F.col(ts) if isinstance(ts, str) else ts).cast("timestamp_ntz")
    w = float(bucket_seconds)
    if w in (60.0, 3600.0, 86400.0):
        day = c.cast("date").cast("timestamp_ntz")
        if w == 86400.0:
            return day
        tod = c - day  # pure DAY-TO-SECOND interval: wall micros only
        hh = F.date_part(F.lit("HOUR"), tod)
        mm = F.date_part(F.lit("MINUTE"), tod) if w == 60.0 else F.lit(0)
        return day + F.make_dt_interval(F.lit(0), hh, mm, F.lit(0))
    secs = F.lit(w)
    e = ntz_epoch_sec(c)
    return sec_to_ntz(F.floor(e / secs) * secs)


def rollup(
    df: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    value_col: str,
) -> DataFrame:
    """Per-(entity, bucket) summary: n / sum / min / max / first_ts /
    last_ts, plus ``avg`` finalized from sum & n. All decomposable, so the
    output is itself the input of :func:`rollup_coarser`."""
    by_cols = [by] if isinstance(by, str) else list(by)
    v = F.col(value_col)
    return (
        df.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .groupBy(*by_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("n"))
    )


def rollup_apply_changes(
    old_rollup: DataFrame,
    changes: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    value_col: str,
    fact: DataFrame | None = None,
) -> DataFrame:
    """Incremental materialized-view maintenance: fold a CDC change set
    (``snapshots.read_changes`` output — rows tagged insert/delete) into an
    existing :func:`rollup` WITHOUT recomputing it from the fact table.

    Three disjoint group classes, cheapest treatment each:

    - **untouched** groups (no change row lands in them) pass through by
      anti-join against the (change-sized) touched-key set — never read,
      never shuffled beyond the join;
    - **insert-only** groups merge arithmetically — count/sum add, min/max/
      first/last fold via least/greatest (the rollup row is a monoid
      element, inserts append losslessly);
    - **delete-touched** groups are the one class where min/max/first/last
      are not retractable, so exactly those groups re-aggregate from
      ``fact`` (the table's CURRENT state, e.g. ``snapshots.read(...)``),
      pre-filtered by a semi-join on the dirty keys — with a bucketed or
      range-partitioned fact layout that filter prunes at the scan.

    At 100 TB with 0.1 %-touched merges the work is: one groupBy over the
    change set, two joins against key sets the size of the touched groups
    (size-gated broadcast), and a fact scan restricted to dirty groups —
    IO ∝ touched data, not table size. ``fact`` may be omitted when the
    change set contains no deletes (pure append); passing deletes without
    ``fact`` raises.
    """
    from acoustic_feature_extractor_spark.plans.cache import tracked_persist
    from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

    by_cols = [by] if isinstance(by, str) else list(by)
    keys = [*by_cols, "bucket"]
    is_ins = F.col("_change_type") == F.lit("insert")
    v = F.col(value_col)

    delta = (
        changes.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .groupBy(*keys)
        .agg(
            F.sum(F.when(is_ins, 1).otherwise(-1)).alias("_dn"),
            F.sum(F.when(is_ins, v).otherwise(-v)).alias("_dsum"),
            F.min(F.when(is_ins, v)).alias("_ins_min"),
            F.max(F.when(is_ins, v)).alias("_ins_max"),
            F.min(F.when(is_ins, F.col("ts"))).alias("_ins_first"),
            F.max(F.when(is_ins, F.col("ts"))).alias("_ins_last"),
            F.max(F.when(~is_ins, 1).otherwise(0)).alias("_has_del"),
        )
    )
    has_deletes = not changes.where(~is_ins).isEmpty()
    if has_deletes and fact is None:
        raise ValueError(
            "change set contains deletes: min/max/first/last are not "
            "retractable, pass fact= (the table's current state) so the "
            "delete-touched groups can re-aggregate"
        )
    # shared by the touched/clean/dirty splits; change-sized, released by
    # plans.cache.release_persisted at the caller's stage boundary
    delta = tracked_persist(delta)
    touched = maybe_broadcast(delta.select(*keys))
    untouched = old_rollup.join(touched, keys, "anti")

    clean = delta.where(F.col("_has_del") == 0)
    merged = (
        clean.join(old_rollup, keys, "left")
        .select(
            *keys,
            (F.coalesce(F.col("n"), F.lit(0)) + F.col("_dn")).alias("n"),
            (F.coalesce(F.col("sum_v"), F.lit(0.0)) + F.col("_dsum")).alias("sum_v"),
            F.least(F.col("min_v"), F.col("_ins_min")).alias("min_v"),
            F.greatest(F.col("max_v"), F.col("_ins_max")).alias("max_v"),
            F.least(F.col("first_ts"), F.col("_ins_first")).alias("first_ts"),
            F.greatest(F.col("last_ts"), F.col("_ins_last")).alias("last_ts"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("n"))
    )

    parts = [untouched, merged]
    if has_deletes:
        dirty_keys = maybe_broadcast(
            delta.where(F.col("_has_del") == 1).select(*keys)
        )
        dirty_fact = (
            fact.withColumn("bucket", time_bucket("ts", bucket_seconds))
            .join(dirty_keys, keys, "semi")
        )
        # re-aggregate exactly the dirty groups from current fact rows;
        # groups whose rows were all deleted simply produce no row
        parts.append(
            dirty_fact.groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(v).alias("sum_v"),
                F.min(v).alias("min_v"),
                F.max(v).alias("max_v"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
            .withColumn("avg_v", F.col("sum_v") / F.col("n"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def rollup_coarser(
    fine: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    fine_seconds: float | None = None,
) -> DataFrame:
    """Re-aggregate a finer rollup to a coarser grain WITHOUT touching the
    fact table. The coarse width must be a multiple of the fine width so
    every fine bucket falls entirely inside one coarse bucket — pass
    ``fine_seconds`` to have that validated (the rollup rows don't carry
    their own width, so it can't be self-checked)."""
    if fine_seconds is not None:
        ratio = float(bucket_seconds) / float(fine_seconds)
        # float-safe multiplicity test (0.3 % 0.1 != 0 in IEEE doubles)
        if abs(ratio - round(ratio)) > 1e-9 or round(ratio) < 1:
            raise ValueError(
                f"coarse width {bucket_seconds}s is not a multiple of the fine "
                f"width {fine_seconds}s — fine buckets would straddle coarse ones"
            )
    by_cols = [by] if isinstance(by, str) else list(by)
    return (
        fine.withColumn("_cb", time_bucket("bucket", bucket_seconds))
        .groupBy(*by_cols, "_cb")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
        .withColumnRenamed("_cb", "bucket")
        .withColumn("avg_v", F.col("sum_v") / F.col("n"))
    )


def cohort_retention(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Cohort retention triangle: entities cohorted by the bucket of their
    FIRST event; one row per (cohort, offset) with how many of the cohort
    were active ``offset`` buckets later —
    (cohort, offset, n_active, n_cohort, retention).

    Plan shape: the cohort assignment is a window min over the entity
    (same exchange the activity dedup needs — no self-join, the fact
    table shuffles ONCE on the entity), activity dedups to one row per
    (entity, bucket), and the triangle is a groupBy of that already
    entity×bucket-sized table. Offsets are exact integer bucket ratios.
    Offset 0 exists for every cohort and has retention 1.0 by
    construction (the first-event bucket is itself active).
    """
    from pyspark.sql import Window

    b = time_bucket(ts, bucket_seconds)
    e = ntz_epoch_sec(b)
    w = Window.partitionBy(key)
    per = (
        df.select(F.col(key), e.alias("_bsec"))
        .withColumn("_cohort", F.min("_bsec").over(w))
        .select(key, "_cohort", "_bsec")
        .distinct()
    )
    tri = per.groupBy(
        "_cohort",
        (
            (F.col("_bsec") - F.col("_cohort")) / F.lit(float(bucket_seconds))
        ).cast("long").alias("offset"),
    ).agg(F.count_distinct(F.col(key)).alias("n_active"))
    sizes = per.groupBy("_cohort").agg(
        F.count_distinct(F.col(key)).alias("n_cohort")
    )
    return (
        tri.join(sizes, "_cohort")
        .select(
            F.col("_cohort").alias("cohort_sec"),
            "offset",
            "n_active",
            "n_cohort",
            (F.col("n_active").cast("double") / F.col("n_cohort")).alias(
                "retention"
            ),
        )
    )
