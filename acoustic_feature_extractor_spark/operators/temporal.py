"""Point-in-time temporal feature operators: trailing time-range windows,
exponential time-decay aggregates, and leakage-free target encoding.

These are the feature-store staples the reference's frame pipeline implies
but never needed at per-file scale (its "history" is a whole loaded array —
``/root/reference/src/acoustic_feature_extractor/data/sampling_data.py:29-42``
resamples against the full past). At 10^12 turns the history must be a
window frame, and *strictly-past* semantics is what makes a feature
leakage-free (north_star: "no feature reads data with ts greater than the
as-of timestamp").

Scale shapes (all pure Catalyst — zero Python in any path):

- ``trailing_time_window``: ``rangeBetween`` over epoch-microseconds. The
  salted variant time-chunks the key and carries the trailing ``W`` seconds
  of each chunk into the next (``skew.carry_rows``, the carry pattern of
  ``skew.salted_rolling`` applied to a RANGE frame), so a mega-entity
  never sorts in one task.
- ``time_decayed_sum``: exact two-phase decayed prefix sum. A single
  window with ``2**(t/hl)`` weights overflows double once an entity spans
  ~1000 half-lives; instead each (key, time-chunk) computes a local decayed
  prefix with chunk-anchored exponents (bounded by the chunk width), and
  chunk totals — one tiny row per (key, chunk) — are decayed across chunks
  with a bounded-lookback fold (contributions older than 128 half-lives
  of the longest horizon are below 2^-128 of a chunk total: under double ulp at any
  reportable precision, and *mathematically* under any 6-decimal rounding).
- ``past_target_encode``: expanding strictly-past category statistics.
  Categories are the ultimate hot keys (``role`` has ~5 values over the
  whole corpus), so the default path is the two-phase chunked cumsum:
  (category, time-chunk) partials + an exclusive per-chunk offset over the
  tiny summary table (``skew.carry_across_chunks``) — the mega-key never
  materializes in one task.

Every chunked path keys its windows and summaries on ``skew.chunk_key``,
so NULL keys and NULL timestamps keep their rows: a NULL-``ts`` row rides
in the chunk below every real one, as the plain window's NULLS FIRST
order places it.
"""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from acoustic_feature_extractor_spark.functions.scalars import ntz_epoch_us
from acoustic_feature_extractor_spark.operators.skew import (
    CHUNK_KEY,
    carry_across_chunks,
    carry_rows,
    chunk_key,
    join_chunk_summary,
    keep_own_chunk,
)
from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

US = 1_000_000  # microseconds per second


def _t_us(ts_col: str) -> Column:
    """Epoch microseconds as long — exact integer order key for RANGE
    frames. NTZ arithmetic: ``unix_micros(cast("timestamp"))`` localized
    the wall time in the session timezone (r4 non-UTC gate)."""
    return ntz_epoch_us(ts_col)


def trailing_time_window(
    df: DataFrame,
    value_col: str,
    window_seconds: list[float],
    key: str = "conv_id",
    ts_col: str = "ts",
    aggs: tuple[str, ...] = ("count", "sum"),
    strict_past: bool = True,
    chunk_seconds: float | None = None,
) -> DataFrame:
    """Trailing time-range features: per row, aggregate ``value_col`` over
    the key's rows in ``(t - W, t)`` (strict past — never reads the row
    itself or same-timestamp ties) or ``(t - W, t]``.

    One RANGE window per (W, agg) — all share a single sort on
    (key[, chunk], t), so Catalyst plans ONE exchange and fused WindowExecs.

    ``chunk_seconds`` (must be >= max(window_seconds)) turns on time-chunk
    salting: rows in the trailing ``max(W)`` of a chunk are carried into the
    next chunk so every frame is complete inside (key, chunk); only core
    rows are emitted. Result is EXACTLY the unsalted window (tests +
    the driver oracle assert this frame-for-frame).
    """
    w_max = max(window_seconds)
    hi = -1 if strict_past else 0
    if chunk_seconds is not None:
        assert chunk_seconds >= w_max, (
            f"chunk_seconds={chunk_seconds} must cover the longest trailing "
            f"window {w_max}s — a carry row only reaches the adjacent chunk"
        )
    out = df.withColumn("_tus", _t_us(ts_col))
    if chunk_seconds is None:
        spec = Window.partitionBy(key).orderBy("_tus")
    else:
        # rows in the trailing w_max of a chunk also serve the next chunk's
        # look-back (skew.carry_rows); they contribute there but never emit
        out = carry_rows(out, [key], F.col("_tus"), int(chunk_seconds * US), int(w_max * US))
        spec = Window.partitionBy(key, CHUNK_KEY).orderBy("_tus")
    cols: list[Column] = []
    for w_s in window_seconds:
        frame = spec.rangeBetween(-int(w_s * US), hi)
        tag = str(int(w_s)) if float(w_s).is_integer() else str(w_s).replace(".", "p")
        for a in aggs:
            agg_col = {
                "count": F.count(value_col),
                "sum": F.sum(value_col),
                "avg": F.avg(value_col),
                "min": F.min(value_col),
                "max": F.max(value_col),
            }[a].over(frame)
            if a == "count":
                agg_col = agg_col.cast("long")
            cols.append(agg_col.alias(f"{value_col}_{a}_{tag}s"))
    out = out.select("*", *cols)
    if chunk_seconds is not None:
        out = keep_own_chunk(out).drop(CHUNK_KEY)
    return out.drop("_tus")


def time_decayed_sum(
    df: DataFrame,
    value_col: str,
    half_life_seconds: float | list[float],
    key: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    out_col: str | None = None,
    strict_past: bool = True,
    chunk_half_lives: int = 32,
) -> DataFrame:
    """Exact exponentially-decayed sum of the key's past values:
    ``sum_i v_i * 2^(-(t - t_i)/half_life)`` over rows strictly earlier in
    the (ts, tiebreak) total order (ties decay by 2^0 = 1 — deterministic,
    engine-independent). ``strict_past=False`` includes the row itself.

    ``half_life_seconds`` may be a LIST (the multi-horizon feature-store
    ask: 1h/1d/7d decays): every horizon shares ONE fact sort and one
    summary pass — columns ``{out}_{int(hl)}s``. A scalar keeps the single
    ``{out}`` column.

    Two-phase exact plan (no overflow at any entity span):

    1. chunk = floor(t / C) with C = ``chunk_half_lives`` × the SHORTEST
       half-life; each horizon's chunk-anchored exponent is bounded by
       C/hl ≤ ``chunk_half_lives`` — ``2**x`` stays in range.
    2. per-(key, chunk) totals anchored at the chunk END (one tiny row per
       chunk, one column per horizon) are folded across the previous
       PRESENT chunks that span 128 half-lives of the LONGEST horizon,
       with explicit ``2^(-(Δchunk-1)·C/hl)`` factors; present chunks
       farther back contribute < 2^-128 of a chunk
       total — below double ulp of any result that survives 6-decimal
       rounding.

    The fold is an ``aggregate`` HOF over a collect_list of (chunk,
    totals...) rows — it runs on the summary table (one row per
    key×chunk), never on fact rows.

    A NULL-``ts`` row gets NULL (its exponent is NULL) and feeds no other
    row; a NULL key is one entity, as in a plain window.
    """
    scalar = isinstance(half_life_seconds, (int, float))
    hls = [float(half_life_seconds)] if scalar else [float(h) for h in half_life_seconds]
    base = out_col or f"{value_col}_decay"
    names = [base] if scalar else [f"{base}_{int(h) if float(h).is_integer() else h}s" for h in hls]
    # the chunk-local exponent reaches chunk_half_lives (for the shortest
    # horizon); 2^x must stay a finite double (max exponent 1023) with
    # headroom for the value sum
    assert 1 <= chunk_half_lives <= 512, (
        f"chunk_half_lives={chunk_half_lives} must be in [1, 512]: the "
        f"chunk-anchored weight 2**x overflows double past ~1000 half-lives"
    )
    c_s = min(hls) * chunk_half_lives  # chunk width in seconds
    k_exps = [c_s / h for h in hls]  # chunk width in each horizon's half-lives
    # ≥128 half-lives of the longest horizon (≈ most chunks needed)
    max_back = max(1, math.ceil(128 * max(hls) / c_s))
    two = F.lit(2.0)
    d = df.withColumn("_t", _t_us(ts_col) / F.lit(float(US)))
    d = d.withColumn(
        CHUNK_KEY, chunk_key([key], F.floor(F.col("_t") / F.lit(c_s)).cast("long"))
    )
    chunk = F.col(CHUNK_KEY).getField("_chunk")
    # chunk-anchored exponent per horizon: x_i ∈ [0, C/hl_i] ⊆ [0, K]
    xs = [(F.col("_t") - chunk * F.lit(c_s)) / F.lit(h) for h in hls]
    for i, x in enumerate(xs):
        d = d.withColumn(f"_u{i}", F.col(value_col) * F.pow(two, x))
    # chunk totals anchored at the chunk end: T_i = sum(u_i) * 2^-K_i
    # grouped on the chunk key alone: where the fold below is pruned away
    # (time_decayed_mean's second call never reads the first one's carry)
    # the summary then arrives partitioned as the join back needs it
    totals = d.groupBy(CHUNK_KEY).agg(
        *[
            (F.sum(f"_u{i}") * F.pow(two, F.lit(-k))).alias(f"_tot{i}")
            for i, k in enumerate(k_exps)
        ]
    )
    w_back = (
        Window.partitionBy(F.col(CHUNK_KEY).getField(key))
        .orderBy(chunk)
        .rowsBetween(-max_back, -1)
    )
    # a chunk with no non-NULL term (the NULL-ts chunk, or all-NULL
    # values) has NULL totals: collect_list skips it, where a NULL pair
    # would turn the whole fold NULL
    pairs = F.collect_list(
        F.when(
            F.col("_tot0").isNotNull(),
            F.struct(
                chunk.alias("c"),
                *[F.col(f"_tot{i}").alias(f"t{i}") for i in range(len(hls))],
            ),
        )
    ).over(w_back)
    totals = totals.withColumn("_pairs", pairs)
    # S_i = sum of earlier chunk totals decayed to THIS chunk's start:
    # end of chunk c' -> start of chunk c is (c - c' - 1) widths
    def _fold(i: int, k: float):
        # closure factory: pyspark requires the HOF lambda to take exactly
        # the aggregate arity, so (i, k) must bind outside the lambda
        def step(acc, p):
            return acc + p[f"t{i}"] * F.pow(
                two, (-(chunk - p["c"] - 1)).cast("double") * F.lit(k)
            )

        return F.aggregate(F.col("_pairs"), F.lit(0.0), step).alias(f"_carry{i}")

    carries = [_fold(i, k) for i, k in enumerate(k_exps)]
    d = join_chunk_summary(d, totals.select(CHUNK_KEY, *carries))
    w_local = (
        Window.partitionBy(key, CHUNK_KEY)
        .orderBy("_t", tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ALL horizons' running sums in one select → one WindowExec, one sort
    d = d.select(
        "*", *[F.sum(f"_u{i}").over(w_local).alias(f"_lsum{i}") for i in range(len(hls))]
    )
    drop = ["_t", CHUNK_KEY]
    for i, (x, name) in enumerate(zip(xs, names)):
        local = F.col(f"_lsum{i}") - (F.col(f"_u{i}") if strict_past else F.lit(0.0))
        d = d.withColumn(name, F.pow(two, -x) * (local + F.col(f"_carry{i}")))
        drop += [f"_u{i}", f"_lsum{i}", f"_carry{i}"]
    return d.drop(*drop)


def _expanding(
    d: DataFrame,
    key: str,
    tiebreak_col: str,
    off: int,
    chunk_seconds: float | None,
    sums: dict[str, Column],
) -> tuple[DataFrame, WindowSpec]:
    """The expanding frame ``(unbounded, off]`` of ``key`` in (``_t``,
    tiebreak) order. With ``chunk_seconds`` the key is time-chunked: the
    frame stops at the chunk start and ``sums`` carry the earlier chunks
    (``skew.carry_across_chunks``), joined on before the window runs."""
    part = [key]
    if chunk_seconds is not None:
        chunk = F.floor(F.col("_t") / F.lit(int(chunk_seconds * US))).cast("long")
        d = carry_across_chunks(d.withColumn(CHUNK_KEY, chunk_key([key], chunk)), sums=sums)
        part.append(CHUNK_KEY)
    w = Window.partitionBy(*part).orderBy("_t", tiebreak_col)
    return d, w.rowsBetween(Window.unboundedPreceding, off)


def past_target_encode(
    df: DataFrame,
    category_col: str,
    target_col: str,
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    out_col: str = "target_enc",
    chunk_seconds: float | None = 3600.0,
) -> DataFrame:
    """Leakage-free categorical target encoding: for each row, the mean of
    ``target_col`` over all STRICTLY earlier rows (global (ts, tiebreak)
    order) of the same category, ``past_sum / past_count``. Rows with no
    history get NULL (never a fabricated value). Adds ``{out}`` and
    ``{out}_n`` (the past count).

    Zero temporal leakage by construction: the frame ends at -1, so the
    row's own target — and anything later — never feeds its encoding; ties
    on ts are ordered by ``tiebreak_col`` so "past" is a total order.

    Categories are mega-keys (a role/tool vocabulary is tiny, so each value
    holds a constant fraction of the corpus). Default path is therefore the
    two-phase chunked cumsum: strictly-past partials inside
    (category, time-chunk), then an exclusive prefix over the tiny
    per-chunk summary — identical to the single window (the driver oracle
    asserts it) with tasks bounded by chunk width. ``chunk_seconds=None``
    falls back to the plain single-partition-per-category window.
    """
    d = df.withColumn("_t", _t_us(ts_col))
    # typed zero: a DECIMAL target keeps EXACT (order-independent) sums all
    # the way through the two-phase merge — callers needing bit-identical
    # results across engines/partitionings pre-cast to decimal(18,6)
    zero = F.lit(0).cast(df.schema[target_col].dataType)
    sums = {"_osum": F.sum(target_col), "_ocnt": F.count(target_col)}
    d, w = _expanding(d, category_col, tiebreak_col, -1, chunk_seconds, sums)
    psum = F.coalesce(F.sum(target_col).over(w), zero)
    pcnt = F.count(target_col).over(w).cast("long")
    if chunk_seconds is not None:
        psum, pcnt = psum + F.col("_osum"), pcnt + F.col("_ocnt")
    enc = F.when(pcnt > 0, psum / pcnt.cast("double"))
    out = d.withColumn(out_col, enc).withColumn(f"{out_col}_n", pcnt)
    return out.drop("_t", CHUNK_KEY, "_osum", "_ocnt")


def expanding_distinct_count(
    df: DataFrame,
    item_col: str,
    key: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    out_col: str = "seen_distinct",
    strict_past: bool = True,
    chunk_seconds: float | None = None,
) -> DataFrame:
    """Per row: how many DISTINCT ``item_col`` values the key has produced
    so far (strictly before this row in (ts, tiebreak) order, or inclusive)
    — the "novelty" feature (e.g. distinct tools used earlier in the
    conversation). Null items don't count. Adds ``out_col`` plus
    ``{out_col}_is_new`` (this row introduces a never-seen item).

    Exact distributed shape — expanding COUNT(DISTINCT) is not a Spark
    window function, but it IS the running sum of first-occurrence flags:
    rank each (key, item) occurrence (one window), flag rank 1, then
    cumsum the flags over the key timeline (second window). Integer sums —
    bit-exact under any partitioning. ``chunk_seconds`` swaps the timeline
    cumsum for the two-phase (key, time-chunk) partial/final form so a
    mega-key never sorts in one task.
    """
    flag_w = Window.partitionBy(key, item_col).orderBy("_t", tiebreak_col)
    d = df.withColumn("_t", _t_us(ts_col))
    d = d.withColumn(
        "_new",
        F.when(
            F.col(item_col).isNotNull()
            & (F.row_number().over(flag_w) == 1),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long"),
    )
    d, w = _expanding(
        d, key, tiebreak_col, -1 if strict_past else 0, chunk_seconds, {"_oc": F.sum("_new")}
    )
    cnt = F.coalesce(F.sum("_new").over(w), F.lit(0)).cast("long")
    out = d.withColumn(out_col, cnt if chunk_seconds is None else cnt + F.col("_oc"))
    return out.withColumn(f"{out_col}_is_new", F.col("_new") == 1).drop(
        "_t", "_new", CHUNK_KEY, "_oc"
    )


def temporal_split(
    df: DataFrame,
    test_start,
    ts_col: str = "ts",
    embargo_seconds: float = 0.0,
) -> DataFrame:
    """Purged time-based train/test split: rows before
    ``test_start - embargo`` are ``train``, rows at/after ``test_start``
    are ``test``, and the embargo band between them is ``embargo`` —
    excluded from both so features with trailing windows (rolling sums,
    decays) computed on train rows can't overlap the test period
    (the purged-split rule from the financial-ML literature; the
    leakage-prevention complement of the strictly-past operators above).

    ``test_start``: timestamp string / datetime. Pure projection — no
    shuffle; at 10^12 rows this is a map-only pass (or a partition-pruned
    filter when the table is time-partitioned).
    """
    if isinstance(test_start, datetime):
        # a naive datetime through F.lit becomes a TIMESTAMP localized in
        # the session tz (lossy inside DST gaps); its ISO string parses
        # to NTZ purely
        test_start = test_start.isoformat(sep=" ")
    start = F.lit(test_start).cast("timestamp_ntz")
    ts = F.col(ts_col).cast("timestamp_ntz")
    emb_lo = start - F.make_interval(secs=F.lit(float(embargo_seconds)))
    return df.withColumn(
        "split",
        F.when(ts >= start, F.lit("test"))
        .when(ts >= emb_lo, F.lit("embargo"))
        .otherwise(F.lit("train")),
    )


def time_series_folds(
    df: DataFrame,
    ts_col: str = "ts",
    n_folds: int = 5,
    embargo_seconds: float = 0.0,
) -> DataFrame:
    """Expanding-window K-fold cross-validation assignment with an
    embargo purge (the leak-free CV split for temporal features —
    de Prado's purged K-fold, recast on timestamp cuts).

    Fold boundaries are the exact ``k/n_folds`` quantiles of ``ts_col``
    (Spark ``percentile``: linear interpolation — DuckDB
    ``quantile_cont`` parity, same pair as ``percentile_report``). For
    each fold ``f`` in ``2..n_folds``:

    - ``valid``: rows in time-tile ``f`` (``cuts[f-2] < ts <= cuts[f-1]``,
      open-ended for the last tile) — strictly later than all its train;
    - ``train``: rows with ``ts <= cuts[f-2] − embargo_seconds`` — the
      expanding past, PURGED of the embargo band just before the
      validation window (features built from trailing windows would
      otherwise leak validation-adjacent rows into training).

    Returns one row per (input row, fold) membership — a row can train in
    several folds. Fully declarative and map-only after ONE tiny
    aggregate: the cut row is a 1-row broadcast (the ``corpus_stats``
    pattern), tile assignment is an ``aggregate`` over the broadcast cut
    array, and fold membership is ``transform``+``filter``+``explode`` —
    no shuffle of the fact table at any point, so at 10^12 rows the cost
    is one scan + one scan-sized explode (bounded by ``n_folds×`` rows).
    """
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    qs = [k / n_folds for k in range(1, n_folds)]
    sec = ntz_epoch_us(F.col(ts_col)) / F.lit(float(US))
    src = df.withColumn("_tsec", sec)
    cuts = src.agg(
        F.expr(
            f"percentile(_tsec, array({','.join(str(q) for q in qs)}))"
        ).alias("_cuts")
    )
    j = src.crossJoin(maybe_broadcast(cuts))
    tile = F.lit(1) + F.aggregate(
        F.col("_cuts"),
        F.lit(0),
        lambda acc, c: acc + F.when(F.col("_tsec") > c, 1).otherwise(0),
    )
    emb = F.lit(float(embargo_seconds))
    memberships = F.filter(
        F.transform(
            F.sequence(F.lit(2), F.lit(n_folds)),
            lambda f: F.struct(
                f.alias("fold"),
                F.when(F.col("_tile") == f, F.lit("valid"))
                .when(
                    F.col("_tsec")
                    <= F.element_at(F.col("_cuts"), f - F.lit(1)) - emb,
                    F.lit("train"),
                )
                .alias("role"),
            ),
        ),
        lambda m: m["role"].isNotNull(),
    )
    out = (
        j.withColumn("_tile", tile)
        .withColumn("_m", F.explode(memberships))
        .select(
            *df.columns,
            F.col("_m.fold").alias("fold"),
            F.col("_m.role").alias("role"),
        )
    )
    return out


def cusum_scores(
    df: DataFrame,
    by: str | list[str],
    order: str | list[str],
    value_col: str,
    ref: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM change-point scores per entity series — Page (1954),
    the sequential drift detector that flags a sustained mean shift of
    ~2k·sigma within a handful of observations, where a PSI-style batch
    monitor needs a whole comparison window.

    The textbook form is a non-associative recursion
    ``S_i = max(0, S_{i-1} + z_i - k)`` that no window frame expresses
    directly. It folds into pure prefix algebra via the running-minimum
    identity::

        C_i = sum_{j<=i} (z_j - k)          (plain cumulative sum)
        S_i = C_i - min(0, min_{j<=i} C_j)  (subtract the lowest water mark)

    — two window functions per side, no Python, no recursion. Proof sketch:
    the recursion resets to 0 exactly where the prefix sum hits a new
    minimum; between resets it carries C_i minus that minimum.

    Leak-freedom: the standardization baseline (mu, sigma_pop of
    ``value_col``) comes from the caller-supplied REFERENCE frame (e.g. the
    training window), never from the scored rows — one 1-row aggregate,
    broadcast crossJoin (the house stats-broadcast shape). Scale: one
    window exchange on ``by``; both the cumsum and the running min are
    chunk-decomposable, so ``skew.carry_across_chunks`` applies
    if an entity outgrows a task (prefix-min of a chunk = min(local
    prefix-min, min of prior chunk minima)).

    Output: input columns + ``z``, ``s_pos``, ``s_neg``, ``alarm``
    (either side above ``h``). Raises on a degenerate (sigma <= eps)
    reference.

    Reference tie-in: the reference's iterative F0-range refinement
    (``extract_f0_range.py:307-353``) also hunts distribution breaks, but
    offline over the whole corpus; CUSUM is its single-pass sequential
    counterpart for monitoring a live feature stream.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    order_cols = [order] if isinstance(order, str) else list(order)
    stats = ref.agg(
        F.avg(value_col).alias("_mu"),
        F.var_pop(value_col).alias("_var"),
    )
    base = df.crossJoin(F.broadcast(stats)).withColumn(
        "_sg", F.sqrt(F.col("_var"))
    )
    # fail loudly on a flat reference instead of emitting inf scores
    base = base.withColumn(
        "_sg",
        F.when(F.col("_sg") > F.lit(1e-12), F.col("_sg")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("cusum_scores: degenerate reference sigma "),
                    F.col("_sg").cast("string"),
                )
            )
        ),
    )
    z = (F.col(value_col) - F.col("_mu")) / F.col("_sg")
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cp = F.sum(z - F.lit(float(k))).over(w)
    cn = F.sum(-z - F.lit(float(k))).over(w)
    out = (
        base.withColumn("z", z)
        .withColumn("_cp", cp)
        .withColumn("_cn", cn)
        .withColumn("s_pos", F.col("_cp") - F.least(F.lit(0.0), F.min("_cp").over(w)))
        .withColumn("s_neg", F.col("_cn") - F.least(F.lit(0.0), F.min("_cn").over(w)))
        .withColumn(
            "alarm",
            (F.col("s_pos") > F.lit(float(h))) | (F.col("s_neg") > F.lit(float(h))),
        )
    )
    return out.drop("_mu", "_var", "_sg", "_cp", "_cn")


def time_decayed_mean(
    df: DataFrame,
    value_col: str,
    half_life_seconds: float,
    key: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    out_col: str | None = None,
    strict_past: bool = True,
    chunk_half_lives: int = 32,
) -> DataFrame:
    """Exponentially-weighted mean of the key's past values — the EWMA
    feature-store staple: ``decayed_sum(v) / decayed_sum(1)``. Both
    numerator and denominator ride the exact two-phase chunked machinery
    of :func:`time_decayed_sum` (one extra summary column, no extra fact
    pass beyond the second fold). NULL when the key has no qualifying
    past (the strictly-past first row), never a 0/0."""
    out = out_col or f"{value_col}_ewm"
    num = f"{out}__num"
    den = f"{out}__den"
    d = time_decayed_sum(
        df, value_col, half_life_seconds, key, ts_col, tiebreak_col,
        out_col=num, strict_past=strict_past,
        chunk_half_lives=chunk_half_lives,
    )
    d = d.withColumn("_one", F.lit(1.0))
    d = time_decayed_sum(
        d, "_one", half_life_seconds, key, ts_col, tiebreak_col,
        out_col=den, strict_past=strict_past,
        chunk_half_lives=chunk_half_lives,
    )
    return d.withColumn(
        out,
        F.when(F.col(den) > 0, F.col(num) / F.col(den)),
    ).drop("_one", num, den)


def rolling_trend(
    df: DataFrame,
    by: str | list[str],
    order: str,
    value_col: str,
    window_rows: int,
    strict_past: bool = True,
) -> DataFrame:
    """Per-entity least-squares TREND (slope) of ``value_col`` over the
    trailing ``window_rows`` observations, regressed on the integer
    ``order`` column (turn index) — "is this conversation's reply length
    rising?" as a leak-free point-in-time feature.

    Closed form over the frame: ``slope = (n·Σxy − Σx·Σy) /
    (n·Σx² − (Σx)²)``. Regressing on the INTEGER order key is the
    numerically-sound choice at scale: Σx and Σx² are exact BIGINT
    window sums (an epoch-seconds regressor squares to ~10^18 where the
    cancellation ``nΣx² − (Σx)²`` loses most of its double bits), and
    the y-side sums stay at data magnitude. One window frame on the
    entity exchange every other per-turn feature already pays; no join,
    no Python. NULL until ≥ 2 points or when the regressor is constant.

    ``strict_past`` excludes the current row (frame [-window_rows, -1]) —
    zero temporal leakage; False gives the centered-ish trailing frame
    [-window_rows+1, 0] including the row.
    """
    if window_rows < 2:
        raise ValueError(f"window_rows must be >= 2, got {window_rows}")
    by_cols = [by] if isinstance(by, str) else list(by)
    if strict_past:
        frame = (-int(window_rows), -1)
    else:
        frame = (-(int(window_rows) - 1), 0)
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(order)
        .rowsBetween(frame[0], frame[1])
    )
    x = F.col(order).cast("long")
    y = F.col(value_col).cast("double")
    n = F.count(y).over(w)
    sx = F.sum(F.when(y.isNotNull(), x)).over(w)  # pair x with non-null y
    sxx = F.sum(F.when(y.isNotNull(), x * x)).over(w)
    sy = F.sum(y).over(w)
    sxy = F.sum(x.cast("double") * y).over(w)
    denom = (n * sxx - sx * sx).cast("double")
    slope = (n.cast("double") * sxy - sx.cast("double") * sy) / denom
    return df.withColumn(
        "trend", F.when((n >= 2) & (denom > 0), slope)
    )


def seasonal_slot(
    ts_col: str = "ts",
    slot_seconds: float = 3600.0,
    period_seconds: float = 86400.0,
) -> Column:
    """Seasonal slot index of a wall-clock timestamp: which of the
    ``period/slot`` phase positions the row falls in (hour-of-day with
    the defaults; day-of-week with slot=86400, period=604800 — note the
    epoch anchor makes slot 0 a Thursday). Pure wall-clock arithmetic —
    ``hour()`` on NTZ coerces through the session timezone and is NOT
    usable (see rollup.time_bucket); the hour-of-day case takes the same
    interval-extraction fast path, the general case is
    ``pmod(epoch, period) / slot`` on exact integer micros."""
    slot_us = int(round(float(slot_seconds) * US))
    period_us = int(round(float(period_seconds) * US))
    if slot_us <= 0 or period_us <= 0:
        raise ValueError("slot/period must be positive")
    if period_us % slot_us:
        raise ValueError(
            f"period {period_seconds}s is not a multiple of slot "
            f"{slot_seconds}s — slots would straddle the period boundary"
        )
    c = F.col(ts_col).cast("timestamp_ntz")
    if slot_us == 3600 * US and period_us == 86400 * US:
        # hour-of-day: one pure interval field extraction
        tod = c - c.cast("date").cast("timestamp_ntz")
        return F.date_part(F.lit("HOUR"), tod).cast("int")
    e = ntz_epoch_us(c)
    return (F.pmod(e, F.lit(period_us)) / F.lit(slot_us)).cast("int")


def seasonal_baseline(
    df: DataFrame,
    by: str | list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    slot_seconds: float = 3600.0,
    period_seconds: float = 86400.0,
    tiebreak_col: str | None = None,
    strict_past: bool = True,
) -> DataFrame:
    """Leak-free SEASONAL baseline: the trailing mean of ``value_col``
    over this entity's PAST observations in the SAME phase slot
    (hour-of-day by default) — "how long does this user's reply usually
    take at this hour?" as a point-in-time feature. The classic
    seasonality profile (recasting the reference's per-file statistics
    normalization — statistics.py accumulates a per-unit profile, here
    the unit is the recurring time slot).

    Plan shape: ONE window over (entity, slot) ordered by (ts, tiebreak)
    — the slot is a pure projection, so the only exchange is the
    (entity, slot) hash partition; no join, no Python, and the frame
    carries two running sums (O(1) state per row). At 10^12 rows the
    (entity, slot) key splits each entity across ``period/slot``
    partitionable sub-keys — FINER than the per-entity exchange, so
    mega-entity skew is period/slot-times milder here than in any
    per-entity window.

    ``strict_past`` excludes the current row (zero temporal leakage,
    the default). Emits the slot, the count of past same-slot observations, and their
    mean (NULL when no past — never 0/0).
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    upper = -1 if strict_past else 0
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col is not None else []
    )
    slot = seasonal_slot(ts_col, slot_seconds, period_seconds)
    w = (
        Window.partitionBy(*by_cols, "slot")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    y = F.col(value_col).cast("double")
    n = F.count(y).over(w)
    return (
        df.withColumn("slot", slot)
        .withColumn("n_slot_past", n)
        .withColumn("seasonal_mean", F.when(n > 0, F.sum(y).over(w) / n))
    )


def rolling_autocorr(
    df: DataFrame,
    by: str | list[str],
    order: str,
    value_col: str,
    lag: int = 1,
    window_rows: int = 16,
    strict_past: bool = True,
) -> DataFrame:
    """Per-entity lag-``lag`` AUTOCORRELATION of ``value_col`` over the
    trailing ``window_rows`` observations — "is this conversation's
    reply-length series repeating itself?" as a leak-free point-in-time
    feature (the classic tsfresh/forecasting repetitiveness signal).

    Pearson r between the series and its lag over the frame's pairs:
    ``r = (nΣyz − ΣyΣz) / sqrt((nΣy² − (Σy)²)(nΣz² − (Σz)²))`` with
    ``z_j = y_{j-lag}``. Plan shape: the lag projection and the six
    frame sums are two Window operators over the SAME (entity, order)
    sort — one exchange, no join, no Python (Catalyst reuses the sort).
    Pairs where either side is NULL drop out of every sum (the
    pairwise-complete convention). NULL until ≥ 2 pairs or when either
    side of the window is constant (zero variance — r undefined, never
    ±inf).

    ``strict_past`` excludes the current row (frame [-window_rows, -1]);
    False includes it ([-window_rows+1, 0]).
    """
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    if window_rows < lag + 2:
        raise ValueError(
            f"window_rows must be >= lag + 2 ({lag + 2}) for 2 pairs, "
            f"got {window_rows}"
        )
    by_cols = [by] if isinstance(by, str) else list(by)
    seq = Window.partitionBy(*by_cols).orderBy(order)
    frame = (-int(window_rows), -1) if strict_past else (-(int(window_rows) - 1), 0)
    w = seq.rowsBetween(*frame)
    y = F.col(value_col).cast("double")
    z = F.lag(y, int(lag)).over(seq)
    pair = F.when(y.isNotNull() & z.isNotNull(), F.struct(y.alias("y"), z.alias("z")))
    src = df.withColumn("_p", pair)
    py = F.col("_p.y")
    pz = F.col("_p.z")
    n = F.count("_p").over(w)
    sy = F.sum(py).over(w)
    sz = F.sum(pz).over(w)
    syy = F.sum(py * py).over(w)
    szz = F.sum(pz * pz).over(w)
    syz = F.sum(py * pz).over(w)
    nd = n.cast("double")
    vy = nd * syy - sy * sy
    vz = nd * szz - sz * sz
    r = (nd * syz - sy * sz) / F.sqrt(vy * vz)
    return src.withColumn(
        "autocorr", F.when((n >= 2) & (vy > 0) & (vz > 0), r)
    ).drop("_p")


def time_since_event(
    df: DataFrame,
    mark: Column,
    key: str = "conv_id",
    ts_col: str = "ts",
    out_col: str = "since_s",
) -> DataFrame:
    """Seconds since the entity's most recent STRICTLY-PAST row where
    ``mark`` holds (NULL before the first such row) — the
    response-latency / recency feature ("time since last user turn",
    "time since last error"). Leak-free by the same contract as
    :func:`trailing_time_window`: the frame ends 1 µs before the current
    row, so same-timestamp ties never see each other.

    Shape: a running conditional max over one RANGE frame — the sort on
    (key, t) is shared with every other window feature on the same key
    (Catalyst fuses the WindowExecs; zero extra exchanges in the flagship
    stack). The reference's analog is frame-relative position lookups in
    one loaded array (``sampling_data.py:29-42``); here the "array" is a
    10^12-row table and the lookup is a frame.
    """
    out = df.withColumn("_tus", _t_us(ts_col))
    frame = Window.partitionBy(key).orderBy("_tus").rangeBetween(Window.unboundedPreceding, -1)
    last_us = F.max(F.when(mark, F.col("_tus"))).over(frame)
    out = out.withColumn(out_col, (F.col("_tus") - last_us) / F.lit(float(US)))
    return out.drop("_tus")


def future_outcomes(
    df: DataFrame,
    target: Column,
    horizon_seconds: float,
    key: str = "conv_id",
    ts_col: str = "ts",
    value_col: str | None = None,
    prefix: str = "future",
) -> DataFrame:
    """Forward-horizon LABEL construction: per row, over the entity's rows
    in ``(t, t + horizon]`` (strictly after — the row never labels itself,
    and same-timestamp ties don't count as "future"), emit

    - ``{prefix}_n``    count of rows where ``target`` holds,
    - ``{prefix}_any``  boolean, ``n > 0``,
    - ``{prefix}_ttf_s`` seconds to the FIRST such row (NULL if none
      within the horizon),
    - ``{prefix}_sum``  sum of ``value_col`` over target rows (when given).

    This is the supervised-label twin of the leak-free features: features
    read strictly backward, labels read strictly forward, and the join of
    the two at (entity, ts) is a training example with zero overlap
    between the two frames. Rows whose horizon extends past the
    corpus/partition watermark are the caller's censoring problem — at
    scale, filter ``ts <= max_ts - horizon`` before training.

    One RANGE frame over the same (key, t) sort as every backward
    feature — Catalyst fuses it into the existing window stage.
    """
    d = df.withColumn("_tus", _t_us(ts_col))
    spec = Window.partitionBy(key).orderBy("_tus")
    frame = spec.rangeBetween(1, int(horizon_seconds * US))
    n = F.count(F.when(target, F.lit(1))).over(frame).cast("long")
    first_us = F.min(F.when(target, F.col("_tus"))).over(frame)
    cols = [
        n.alias(f"{prefix}_n"),
        (n > 0).alias(f"{prefix}_any"),
        ((first_us - F.col("_tus")) / F.lit(float(US))).alias(f"{prefix}_ttf_s"),
    ]
    if value_col is not None:
        cols.append(
            F.sum(F.when(target, F.col(value_col))).over(frame).alias(f"{prefix}_sum")
        )
    return d.select("*", *cols).drop("_tus")
