"""As-of / point-in-time join and multi-source alignment.

Reference parity targets:
- nearest-rate resample = backward as-of gather
  (``/root/reference/src/acoustic_feature_extractor/data/sampling_data.py:29-51``):
  each target-grid index takes the source row at
  ``floor(i * src_rate / dst_rate)`` — i.e. the latest source sample at or
  before the target timestamp. ``kind="linear"`` interpolates between the
  bracketing source samples (scipy.interp1d semantics with edge clamp).
- multi-source alignment (``SamplingData.collect``,
  ``sampling_data.py:87-139``): resample every source to a common rate,
  tolerance-check lengths, align min/max/first, concatenate feature axes.

Two physical strategies, same semantics:

1. ``asof_join`` — the SCALE PATH. Pure Catalyst "union trick": tag both
   sides, union on (key, ts), one window forward-fill of the right-side
   payload, filter back to left rows. Entirely JVM-side (whole-stage
   codegen), ONE shuffle of (left+right) on the key, no Python, and —
   unlike a cogrouped pandas kernel — AQE can split skewed partitions
   because the window key can be salted (see skew.py). Zero temporal
   leakage by construction: the fill window is rowsBetween(unboundedPreceding, 0)
   over orderBy(ts, side) with the right side sorting first at equal ts,
   so a left row can only ever see right rows with ts <= its own.

2. ``asof_join_salted_jvm`` — the SKEW PATH. The same union trick with
   the fill window chunked on time, so a mega-entity spans many tasks; a
   two-phase carry over the tiny (key, chunk) summary
   (``skew.carry_across_chunks``) hands each chunk its predecessor state.
   Still no Python.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.functions.scalars import epoch_sec_fn
from acoustic_feature_extractor_spark.operators.skew import (
    CHUNK_KEY,
    carry_across_chunks,
    chunk_key,
)
from pyspark.sql.window import Window


def _payload_cols(
    right: DataFrame,
    on: str,
    by: str | list[str],
    right_cols: Iterable[str] | None,
) -> tuple[list[str], list[str]]:
    """(by columns, right payload columns): the payload defaults to every
    right column that is neither a key nor the timestamp."""
    by_cols = [by] if isinstance(by, str) else list(by)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in by_cols and c != on]
    return by_cols, list(right_cols)


def _tag_union(
    spine: DataFrame,
    sources: dict[str, DataFrame],
    payload_cols: dict[str, list[str]],
    on: str,
    by_cols: list[str],
) -> DataFrame:
    """The union trick's prologue: union the spine and every source on
    (by, on), tagged ``_side`` = 1 (spine) / 0 (source). Spine rows keep
    their payload; source ``n`` contributes ONE struct ``_r_{n}`` packing
    its whole payload row (timestamp as ``_rts``), null on every other
    row — as-of semantics are "latest source ROW", so a fill must move
    rows, not columns: per-column last(ignorenulls) would skip a
    legitimately-null payload value and stitch together fields from
    different source rows. Null-ts source rows can never match and are
    dropped."""
    names = list(sources)
    spine_cols = spine.columns

    def struct_type(n: str) -> str:
        s = sources[n]
        # single join over all parts so an empty payload (source carrying
        # only by/on columns) yields valid DDL with no trailing comma
        parts = [f"_rts:{s.schema[on].dataType.simpleString()}"] + [
            f"{c}:{s.schema[c].dataType.simpleString()}" for c in payload_cols[n]
        ]
        return "struct<" + ",".join(parts) + ">"

    # spine rows: real payload, every source struct null
    lt = spine.withColumn("_side", F.lit(1))
    for n in names:
        lt = lt.withColumn(f"_r_{n}", F.lit(None).cast(struct_type(n)))
    sel = [*spine_cols, "_side", *[f"_r_{n}" for n in names]]
    u = lt.select(*sel)
    # source rows: null spine payload, own struct packed, others null
    for n in names:
        row = sources[n].where(F.col(on).isNotNull()).select(
            *by_cols,
            F.col(on),
            F.lit(0).alias("_side"),
            *[
                F.lit(None).cast(spine.schema[c].dataType).alias(c)
                for c in spine_cols
                if c not in by_cols and c != on
            ],
            *[
                (
                    F.struct(
                        F.col(on).alias("_rts"),
                        *[F.col(c).alias(c) for c in payload_cols[n]],
                    )
                    if m == n
                    else F.lit(None).cast(struct_type(m))
                ).alias(f"_r_{m}")
                for m in names
            ],
        )
        u = u.unionByName(row.select(*sel))
    return u


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "conv_id",
    right_cols: Iterable[str] | None = None,
    suffix: str = "_asof",
    tolerance_seconds: float | None = None,
    allow_exact_matches: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of join (pandas ``merge_asof`` direction surface, pure Catalyst).

    - ``backward`` (default): latest right row with ``right.on <= left.on``
      — the zero-leakage point-in-time join.
    - ``forward``: earliest right row with ``right.on >= left.on`` (the
      mirror fill: ``first(ignorenulls)`` over the FOLLOWING frame on the
      same union — still one shuffle, zero Python).
    - ``nearest``: whichever of the two is closer in time; exact-distance
      ties go to the backward row (deterministic). With
      ``allow_exact_matches=True`` both candidates come from ONE window
      sort (two frames over the same (ts, side) ordering — equal-ts rows
      are distance-0 backward wins, so the forward frame may skip them);
      the strict variant chains the two strict passes.

    Returns every left row plus ``{col}{suffix}`` for each right payload
    column (null when no right row qualifies). ``tolerance_seconds`` nulls
    matches farther than the window (per direction, before the nearest
    pick). ``allow_exact_matches=False`` gives strict ``<`` / ``>``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction}")
    if direction == "nearest" and not allow_exact_matches:
        # strict nearest: compose the two strict single-direction passes,
        # then keep the closer candidate per row
        return _nearest_strict(
            left, right, on, by, right_cols, suffix, tolerance_seconds
        )
    by_cols, right_cols = _payload_cols(right, on, by, right_cols)
    left_cols = left.columns
    u = _tag_union(left, {"row": right}, {"row": right_cols}, on, by_cols)

    _sec = epoch_sec_fn(u, on)  # tz-independent; dtype-dispatched
    lts = _sec(F.col(on))
    if direction == "nearest":
        # one sort serves both frames: right (_side=0) first at equal ts,
        # so the backward frame sees distance-0 matches and wins the tie
        w_base = Window.partitionBy(*by_cols).orderBy(F.col(on).asc(), F.col("_side").asc())
        wb = w_base.rowsBetween(Window.unboundedPreceding, 0)
        wf = w_base.rowsBetween(0, Window.unboundedFollowing)
        filled = u.withColumn(
            "_b_row", F.last("_r_row", ignorenulls=True).over(wb)
        ).withColumn("_f_row", F.first("_r_row", ignorenulls=True).over(wf))
        out = filled.where(F.col("_side") == 1)
        tol = F.lit(tolerance_seconds) if tolerance_seconds is not None else None
        db = lts - _sec(F.col("_b_row._rts"))
        df_ = _sec(F.col("_f_row._rts")) - lts
        b_ok = F.col("_b_row").isNotNull() & (db <= tol if tol is not None else F.lit(True))
        f_ok = F.col("_f_row").isNotNull() & (df_ <= tol if tol is not None else F.lit(True))
        use_b = b_ok & (~f_ok | (db <= df_))
        pick = F.when(use_b, F.col("_b_row")).when(f_ok, F.col("_f_row"))
        out = out.withColumn("_p_row", pick)
        for c in right_cols:
            out = out.withColumn(f"{c}{suffix}", F.col(f"_p_row.{c}"))
        out = out.withColumn(f"{on}{suffix}", F.col("_p_row._rts"))
        return out.select(*left_cols, *[f"{c}{suffix}" for c in right_cols], f"{on}{suffix}")

    if direction == "backward":
        # At equal ts the right row must be visible to the left row (<=),
        # so right (_side=0) sorts first; strict mode flips the order.
        side_order = F.col("_side").asc() if allow_exact_matches else F.col("_side").desc()
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).asc(), side_order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        fill = F.last("_r_row", ignorenulls=True).over(w)
        dist = lts - _sec(F.col("_f_row._rts"))
    else:  # forward
        # mirror: the frame FOLLOWS the row, so at equal ts the right row
        # must sort at-or-after the left row to be visible (<= semantics)
        side_order = F.col("_side").desc() if allow_exact_matches else F.col("_side").asc()
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).asc(), side_order)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        fill = F.first("_r_row", ignorenulls=True).over(w)
        dist = _sec(F.col("_f_row._rts")) - lts
    filled = u.withColumn("_f_row", fill)
    return _emit_filled(filled, left_cols, right_cols, on, suffix, dist, tolerance_seconds)


def _emit_filled(
    filled: DataFrame,
    left_cols: list[str],
    right_cols: list[str],
    on: str,
    suffix: str,
    dist: Column,
    tolerance_seconds: float | None,
) -> DataFrame:
    """The spine rows of a filled union, the matched ``_f_row`` unpacked
    into ``{col}{suffix}`` columns; NULL where ``dist`` exceeds the
    tolerance."""
    keep = dist <= F.lit(tolerance_seconds) if tolerance_seconds is not None else F.lit(True)
    fields = {f"{c}{suffix}": c for c in right_cols} | {f"{on}{suffix}": "_rts"}
    return filled.where(F.col("_side") == 1).select(
        *left_cols, *[F.when(keep, F.col(f"_f_row.{c}")).alias(n) for n, c in fields.items()]
    )


def _nearest_strict(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | list[str],
    right_cols: Iterable[str] | None,
    suffix: str,
    tolerance_seconds: float | None,
) -> DataFrame:
    """Strict (no exact matches) nearest as-of: chain the two strict
    single-direction passes, keep the closer candidate (ties -> backward)."""
    _, right_cols = _payload_cols(right, on, by, right_cols)
    left_cols = left.columns
    b = asof_join(
        left, right, on, by, right_cols, "_xb", tolerance_seconds, False, "backward"
    )
    f = asof_join(
        b, right, on, by, right_cols, "_xf", tolerance_seconds, False, "forward"
    )

    _sec = epoch_sec_fn(b, on)  # tz-independent; dtype-dispatched
    db = _sec(F.col(on)) - _sec(F.col(f"{on}_xb"))
    df_ = _sec(F.col(f"{on}_xf")) - _sec(F.col(on))
    use_b = F.col(f"{on}_xb").isNotNull() & (
        F.col(f"{on}_xf").isNull() | (db <= df_)
    )
    out = f
    for c in list(right_cols) + [on]:
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(use_b, F.col(f"{c}_xb")).otherwise(F.col(f"{c}_xf")),
        )
    return out.select(*left_cols, *[f"{c}{suffix}" for c in right_cols], f"{on}{suffix}")


def asof_join_salted_jvm(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "conv_id",
    right_cols: Iterable[str] | None = None,
    chunk_seconds: float = 3600.0,
) -> DataFrame:
    """Salted as-of join with ZERO Python — the union trick composed with
    the skew engine's two-phase carry (``skew.carry_across_chunks``).

    Mega-entities are split into time chunks so no task owns a whole
    conversation, entirely inside whole-stage codegen:

    1. tag + union both sides (as in :func:`asof_join`), right payload
       packed into ONE struct so the fill moves rows, never stitches
       columns from different right rows;
    2. chunk on ``floor(ts / chunk_seconds)``; each chunk's last right row
       in the (ts, side) window order is carried to later chunks of the
       key (``skew.carry_across_chunks``), and the chunk-local fill falls
       back to it — bounded partitions regardless of entity size.

    Exactly the unsalted :func:`asof_join` frame-for-frame (tests pin it);
    zero temporal leakage: carries only ever move right state FORWARD.
    """
    by_cols, right_cols = _payload_cols(right, on, by, right_cols)
    left_cols = left.columns
    u = _tag_union(left, {"row": right}, {"row": right_cols}, on, by_cols)

    # sort key for "right visible to left at equal ts" (<= semantics):
    # right first; _sk is numeric so the same order drives both the window
    # and the chunk-last max_by
    _sec = epoch_sec_fn(u, on)  # tz-independent; dtype-dispatched
    chunk = F.floor(_sec(F.col(on)) / F.lit(chunk_seconds)).cast("long")
    u = u.withColumn(CHUNK_KEY, chunk_key(by_cols, chunk)).withColumn("_sk", F.col("_side"))
    # a chunk's state is its last right row in the window's (ts, side) order
    u = carry_across_chunks(
        u, lasts={"_carry": F.col("_r_row")}, order=F.struct(F.col(on), F.col("_sk"))
    )
    w_local = (
        Window.partitionBy(*by_cols, CHUNK_KEY)
        .orderBy(F.col(on).asc(), F.col("_sk").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = F.last("_r_row", ignorenulls=True).over(w_local)
    filled = u.withColumn("_f_row", F.coalesce(local, F.col("_carry")))
    dist = _sec(F.col(on)) - _sec(F.col("_f_row._rts"))
    return _emit_filled(filled, left_cols, right_cols, on, "_asof", dist, None)


def resample_grid(
    source: DataFrame,
    src_rate: float,
    dst_rate: float,
    value_cols: Iterable[str],
    key: str = "conv_id",
    index_col: str = "turn_idx",
    kind: str = "nearest",
) -> DataFrame:
    """Uniform-rate resample — the reference's core J5 operator.

    nearest (backward): target index i reads source index
    ``floor(i * src_rate / dst_rate)`` (``sampling_data.py:29-42`` with the
    RNG jitter pinned to 0 — see SURVEY.md §4 determinism guards).
    linear: interpolate between floor/ceil source indices
    (``sampling_data.py:43-50``).

    Pure Spark: the target grid is GENERATED (explode of a sequence), the
    gather is an equi-join on (key, src_idx) — broadcast/sort-merge chosen
    by Catalyst, no Python, no window.
    """
    value_cols = list(value_cols)
    ratio = float(src_rate) / float(dst_rate)
    n_src = source.groupBy(key).agg(F.max(index_col).alias("_max_idx"))
    # scale_length semantics: len_dst = floor(len_src * dst_rate / src_rate).
    # Entities shorter than the ratio have len_dst = 0 and must emit ZERO
    # rows — F.sequence(0, -1) yields the DESCENDING [0, -1], so the end
    # index is guarded and empty grids are filtered before the explode.
    end_idx = F.floor((F.col("_max_idx") + 1) / F.lit(ratio)).cast("long") - 1
    grid = (
        n_src.where(end_idx >= 0)
        .select(key, F.explode(F.sequence(F.lit(0), end_idx)).alias(index_col))
    )
    pos = F.col(index_col) * F.lit(ratio)
    if kind == "nearest":
        g = grid.withColumn("_src_idx", F.floor(pos).cast("long"))
        src = source.select(
            F.col(key), F.col(index_col).alias("_src_idx"), *value_cols
        )
        return g.join(src, [key, "_src_idx"], "left").drop("_src_idx")
    if kind == "linear":
        g = (
            grid.withColumn("_lo", F.floor(pos).cast("long"))
            .withColumn("_hi", F.ceil(pos).cast("long"))
            .withColumn("_frac", pos - F.floor(pos))
        )
        lo = source.select(
            F.col(key), F.col(index_col).alias("_lo"), *[F.col(c).alias(f"_lo_{c}") for c in value_cols]
        )
        hi = source.select(
            F.col(key), F.col(index_col).alias("_hi"), *[F.col(c).alias(f"_hi_{c}") for c in value_cols]
        )
        j = g.join(lo, [key, "_lo"], "left").join(hi, [key, "_hi"], "left")
        for c in value_cols:
            # edge clamp: beyond last source index, hi is null → hold lo
            interp = F.col(f"_lo_{c}") + (
                F.coalesce(F.col(f"_hi_{c}"), F.col(f"_lo_{c}")) - F.col(f"_lo_{c}")
            ) * F.col("_frac")
            j = j.withColumn(c, interp)
        return j.select(key, index_col, *value_cols)
    raise ValueError(f"unknown resample kind: {kind}")


def _source_spans(
    sources: list[DataFrame], on: str, by: str
) -> DataFrame:
    """One row per entity: each source's max timestamp (epoch seconds) +
    the max pairwise span difference — the alignment-tolerance input."""
    spans = None
    for i, s in enumerate(sources):
        sp = s.groupBy(by).agg(
            F.max(epoch_sec_fn(s, on)(F.col(on))).alias(f"end_{i}")
        )
        spans = sp if spans is None else spans.join(sp, by, "full")
    ends = [F.col(f"end_{i}") for i in range(len(sources))]
    # Spark's greatest/least SKIP nulls — an entity missing from one
    # source would otherwise look perfectly aligned. Null out span_diff
    # explicitly when any source has no rows for the entity.
    any_missing = ends[0].isNull()
    for e in ends[1:]:
        any_missing = any_missing | e.isNull()
    return spans.withColumn(
        "span_diff",
        F.when(any_missing, F.lit(None)).otherwise(F.greatest(*ends) - F.least(*ends)),
    )


def align_rejected_entities(
    sources: list[DataFrame],
    error_time_length: float,
    on: str = "ts",
    by: str = "conv_id",
) -> DataFrame:
    """The tolerance-reject VALIDATION OUTPUT of multi-source alignment.

    The reference hard-asserts that every source covers the same span
    within ``error_time_length`` (``sampling_data.py:98-103``);
    :func:`align_sources` silently drops violators from its result — this
    surfaces them as a real table: one row per rejected entity with each
    source's end timestamp and the span difference, ready for a metrics
    manifest / quarantine sink. Entities missing from any source (null
    span_diff) are rejected too — the reference would KeyError on them.
    """
    spans = _source_spans(sources, on, by)
    return spans.where(
        F.col("span_diff").isNull() | (F.col("span_diff") > F.lit(error_time_length))
    )


def align_sources(
    sources: list[DataFrame],
    on: str = "ts",
    by: str = "conv_id",
    value_cols: list[list[str]] | None = None,
    mode: str = "min",  # min | max | first
) -> DataFrame:
    """Multi-source alignment (``SamplingData.collect`` analog,
    ``sampling_data.py:87-139``).

    Length modes map to join types exactly as SURVEY §2.3 J6 promises:

    - ``min``  — truncate to the shortest source (inner span,
      ``sampling_data.py:105-110``): grid = first source's rows within
      every source's covered span.
    - ``max``  — pad to the LONGEST source with zeros
      (``sampling_data.py:111-121``, numpy.pad zero fill): grid = the
      union of every source's (entity, ts) rows; every source is as-of
      joined on, and rows beyond a source's last timestamp (or before its
      first) read 0. All value columns come back suffixed
      ``_s{i}`` (including source 0 — its own rows are a subset of the
      grid now).
    - ``first`` — the first source's grid, others as-of joined (left+fill).

    Entities whose source spans diverge (the reference's assert) are
    surfaced by :func:`align_rejected_entities`, a validation query.
    """
    assert len(sources) >= 2
    if value_cols is None:
        value_cols = [[c for c in s.columns if c not in (by, on)] for s in sources]

    if mode == "max":
        # The max-mode grid is exactly the UNION of every source's
        # (entity, ts) rows — so per-source as-of joins are overkill:
        # tag-union all sources into one table (each source's value
        # columns null outside its own rows), forward-fill every column
        # with ONE window pass, and keep the last row of each (by, ts)
        # group (it has absorbed every source's value at that ts). One
        # exchange + one sort replaces one as-of join PER SOURCE (the
        # previous shape — 3 sources cost 3 shuffle+sort passes; ~30%
        # off the sf0.1 bench query, whose remaining cost is its three
        # per-source pre-aggregations). Equal-ts ordering
        # by source index is the inclusive as-of tie rule. Sources must
        # be unique per (by, on) — the reference asserts aligned unique
        # timestamps too (``sampling_data.py:87-139``).
        parts = []
        for i, s in enumerate(sources):
            parts.append(
                s.where(F.col(on).isNotNull()).select(
                    F.col(by),
                    F.col(on),
                    F.lit(i).alias("_src"),
                    *[F.col(c).alias(f"{c}_s{i}") for c in value_cols[i]],
                )
            )
        merged = parts[0]
        for t in parts[1:]:
            merged = merged.unionByName(t, allowMissingColumns=True)
        w_ord = Window.partitionBy(by).orderBy(on, "_src")
        w_fill = w_ord.rowsBetween(Window.unboundedPreceding, 0)
        filled = merged.select(
            by,
            on,
            "_src",
            *[
                F.last(f"{c}_s{i}", ignorenulls=True).over(w_fill).alias(f"{c}_s{i}")
                for i in range(len(sources))
                for c in value_cols[i]
            ],
        )
        nxt = F.lead(on).over(w_ord)
        out = (
            filled.withColumn("_nxt", nxt)
            .where(F.col("_nxt").isNull() | (F.col("_nxt") != F.col(on)))
            .drop("_src", "_nxt")
        )
        # per-entity end of source i — the tiny end tables are joined
        # to EACH OTHER first (full outer: an entity absent from a
        # source pads everywhere), so the fact table pays ONE join
        # for all sources instead of one per source
        ends = None
        for i, s in enumerate(sources):
            e = s.groupBy(by).agg(F.max(F.col(on)).alias(f"_end_{i}"))
            ends = e if ends is None else ends.join(e, by, "full")
        # zero-fill outside each source's span (the reference pads the
        # SHORT sources to max length with zeros); joins without a forced
        # broadcast (AQE decides)
        out = out.join(ends, by, "left")
        for i in range(len(sources)):
            for c in value_cols[i]:
                capped = F.when(
                    F.col(on) <= F.col(f"_end_{i}"), F.col(f"{c}_s{i}")
                )
                out = out.withColumn(
                    f"{c}_s{i}", F.coalesce(capped, F.lit(0.0))
                )
        return out.drop(*[f"_end_{i}" for i in range(len(sources))])

    grid = sources[0].select(by, on, *value_cols[0])
    if mode == "min":
        # truncate to the shortest source: keep grid rows covered by all
        min_end = None
        for i, s in enumerate(sources):
            e = s.groupBy(by).agg(F.max(F.col(on)).alias(f"_e{i}"))
            min_end = e if min_end is None else min_end.join(e, by)
        min_end = min_end.select(
            by, F.least(*[F.col(f"_e{i}") for i in range(len(sources))]).alias("_min_end")
        )
        grid = grid.join(min_end, by).where(F.col(on) <= F.col("_min_end")).drop("_min_end")
    elif mode != "first":
        raise ValueError(f"unknown align mode: {mode}")

    out = grid
    for i, s in enumerate(sources[1:], start=1):
        out = asof_join(out, s, on=on, by=by, right_cols=value_cols[i], suffix=f"_s{i}")
        out = out.drop(f"{on}_s{i}")
    return out


def point_in_time_enrich(
    spine: DataFrame,
    sources: dict[str, DataFrame],
    on: str = "ts",
    by: str | list[str] = "conv_id",
    tolerance_seconds: dict[str, float] | float | None = None,
) -> DataFrame:
    """Feature-store point-in-time enrichment: as-of join K feature tables
    onto one spine in a SINGLE shuffle.

    The naive composition is K :func:`asof_join` calls — K exchanges and K
    sorts of the (growing) spine. This operator generalizes the union
    trick instead: tag-union the spine and every source on (by, on), give
    each source its own packed payload-row struct, and fill ALL K structs
    with ``last(ignorenulls)`` frames over the SAME window spec — Catalyst
    collapses them into one Window node, so the whole enrichment costs ONE
    exchange + ONE sort regardless of K. At 100 TB that is the difference
    between a feature backfill bounded by a single pass over
    spine+sources and one bounded by K passes (the feature-store
    "point-in-time correct join" — Feathr/Feast semantics — expressed as
    a Spark plan).

    Same zero-leakage contract as :func:`asof_join` (a spine row can only
    ever see source rows with ``on`` <= its own), per-source
    ``tolerance_seconds``
    (scalar applies to every source), and the same tie rule: sources must
    be unique per (by, on) — pre-aggregate duplicates, or the picked row
    among equal-timestamp duplicates is undefined.

    Returns every spine row plus, per source ``name``, its payload columns
    (every column but ``by`` and ``on``)
    aliased ``{col}_{name}`` and the matched timestamp ``{on}_{name}``
    (null when nothing qualifies). Reference parity: this is the K-source
    generalization of the reference's per-stem feature gather
    (``/root/reference/src/acoustic_feature_extractor/data/sampling_data.py:87-139``),
    spine-driven instead of grid-driven.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    names = list(sources)
    payload_cols = {
        n: [c for c in s.columns if c not in by_cols and c != on]
        for n, s in sources.items()
    }
    if not isinstance(tolerance_seconds, dict):
        tolerance_seconds = {n: tolerance_seconds for n in names}
    spine_cols = spine.columns
    for n in names:
        for c in payload_cols[n] + [on]:
            if f"{c}_{n}" in spine_cols:
                raise ValueError(f"output column {c}_{n} collides with spine")

    u = _tag_union(spine, sources, payload_cols, on, by_cols)

    # equal-ts rule identical to asof_join: sources first (visible)
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u
    for n in names:
        # same window spec for every source -> ONE Window physical node
        filled = filled.withColumn(
            f"_f_{n}", F.last(f"_r_{n}", ignorenulls=True).over(w)
        )
    out = filled.where(F.col("_side") == 1)

    _sec = epoch_sec_fn(u, on)
    lts = _sec(F.col(on))
    final_cols = list(spine_cols)
    for n in names:
        tol = tolerance_seconds.get(n)
        keep = F.col(f"_f_{n}").isNotNull()
        if tol is not None:
            keep = keep & ((lts - _sec(F.col(f"_f_{n}._rts"))) <= F.lit(tol))
        for c in payload_cols[n]:
            out = out.withColumn(
                f"{c}_{n}", F.when(keep, F.col(f"_f_{n}.{c}"))
            )
            final_cols.append(f"{c}_{n}")
        out = out.withColumn(f"{on}_{n}", F.when(keep, F.col(f"_f_{n}._rts")))
        final_cols.append(f"{on}_{n}")
    return out.select(*final_cols)
