"""Mergeable distinct-count sketches (HLL) at rest — the cascade answer to
COUNT(DISTINCT) at 100 TB.

The hypertable rollup (`operators/rollup.py`) cascades count/sum/min/max
losslessly, but DISTINCT is not decomposable: a day's distinct users is not
the sum of its hours'. The standard warehouse answer (Druid/BigQuery/
Snowflake alike) is to store a MERGEABLE sketch per fine bucket and union
sketches upward — the fact table is scanned once, every coarser grain (and
any ad-hoc slice union) is answered from kilobyte sketches.

Built on Spark's public Apache DataSketches HLL bindings
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``,
pyspark.sql.functions, Spark 3.5+): JVM-side, partial/final planned, the
sketch column is a plain ``binary`` you can write to parquet and merge in a
later job without re-reading events.

Scale shape: one ``groupBy(entity, bucket)`` over the fact table (shuffle
carries one ~lgk-sized sketch per group per task thanks to partial
aggregation), then cascades/slices touch only rollup rows. Estimate error
is ~1.04/sqrt(2^lgk): lgk=14 → ~0.8 % relative, 3–12 KB per sketch.

Reference tie-in: the reference's statistics sink reduces a corpus to one
summary row per file (``extract_f0_statistics.py:28-41``); this is the
same reduce-once-query-many pattern for the one aggregate class where the
exact value cannot be carried.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.rollup import (
    _change_sign,
    time_bucket,
)


def distinct_rollup(
    df: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    value_col: str,
) -> DataFrame:
    """Per-(entity, bucket) HLL sketch (lgk 14) of ``value_col`` plus the
    row count: (by…, bucket, n, sketch). The sketch column is binary-at-rest — write
    it with the rollup and every coarser distinct question skips the fact
    table forever."""
    by_cols = [by] if isinstance(by, str) else list(by)
    return (
        df.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .groupBy(*by_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.hll_sketch_agg(F.col(value_col), F.lit(14)).alias("sketch"),
        )
    )


def distinct_coarser(
    fine: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    fine_seconds: float | None = None,
) -> DataFrame:
    """Merge a finer distinct-rollup to a coarser grain WITHOUT touching
    the fact table: sketches union (set semantics — overlap between fine
    buckets collapses correctly, unlike summing counts), rows sum. Same
    width-multiplicity guard as :func:`rollup.rollup_coarser`."""
    if fine_seconds is not None:
        ratio = float(bucket_seconds) / float(fine_seconds)
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
            F.hll_union_agg(F.col("sketch")).alias("sketch"),
        )
        .withColumnRenamed("_cb", "bucket")
    )


def with_estimate(df: DataFrame) -> DataFrame:
    """Finalize: append the distinct estimate (long) from the sketch."""
    return df.withColumn("distinct_est", F.hll_sketch_estimate(F.col("sketch")))


# ---------------------------------------------------------------------------
# fixed-range histogram sketches: mergeable quantiles for the rollup cascade
# ---------------------------------------------------------------------------
#
# Percentiles are the second non-decomposable aggregate class after
# DISTINCT: a day's p99 is not any function of its hours' p99s. The
# mergeable carrier here is a fixed-range equi-width histogram
# (array<bigint> of `bins` counts over a pinned [lo, hi) domain): bucket
# histograms sum element-wise upward losslessly, and any grain answers
# any quantile from the merged counts with at most one bin-width of
# error ((hi-lo)/bins — caller picks the resolution/size trade, 256 bins
# of a bounded signal ≈ 2 KB per group). Same at-rest contract as the HLL
# sketches above: the domain (lo, hi, bins) is pinned at write time and
# every later merge must use the same parameters.
#
# Binning is `floor((v - lo) / w)` with w = (hi - lo)/bins computed ONCE
# driver-side and embedded as a literal — bit-identical IEEE semantics in
# any engine that evaluates the same expression (the DuckDB oracle
# recomputes the histogram and the estimator from the raw facts), unlike
# width_bucket whose internal rounding is implementation-defined.


def hist_rollup(
    df: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Per-(entity, bucket) histogram sketch of ``value_col``:
    (by…, bucket, n, hist). Out-of-domain values clamp into the edge bins
    (they still count; their position saturates). One shuffle — the
    ``bins`` partial sums ride map-side combine as plain long buffers, so
    the shuffle carries one array per group per task, not rows."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    by_cols = [by] if isinstance(by, str) else list(by)
    w = (float(hi) - float(lo)) / int(bins)
    bin_ = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(w)), F.lit(0)
        ),
        F.lit(int(bins) - 1),
    )
    grouped = (
        df.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .withColumn("_bin", bin_)
        .groupBy(*by_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("_bin") == i).cast("long")).alias(f"_h{i}")
                for i in range(int(bins))
            ],
        )
    )
    return grouped.select(
        *by_cols,
        "bucket",
        "n",
        F.array(*[f"_h{i}" for i in range(int(bins))]).alias("hist"),
    )


def hist_coarser(
    fine: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    fine_seconds: float | None = None,
) -> DataFrame:
    """Merge a finer histogram rollup to a coarser grain without touching
    the fact table: counts sum, histograms sum element-wise. The merge
    goes through posexplode + re-assembly (rollup rows × bins is tiny next
    to the fact table; partial aggregation still combines map-side)."""
    if fine_seconds is not None:
        ratio = float(bucket_seconds) / float(fine_seconds)
        if abs(ratio - round(ratio)) > 1e-9 or round(ratio) < 1:
            raise ValueError(
                f"coarse width {bucket_seconds}s is not a multiple of the fine "
                f"width {fine_seconds}s — fine buckets would straddle coarse ones"
            )
    by_cols = [by] if isinstance(by, str) else list(by)
    return (
        fine.withColumn("_cb", time_bucket("bucket", bucket_seconds))
        .select(*by_cols, "_cb", "n", F.posexplode("hist").alias("_i", "_c"))
        .groupBy(*by_cols, "_cb", "_i")
        .agg(F.sum("_c").alias("_c"))
        .groupBy(*by_cols, "_cb")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_c"))),
                lambda s: s["_c"],
            ).alias("hist")
        )
        # n re-derives from the merged histogram (clamping preserved every
        # row's count, so the bin sum IS the row count)
        .withColumn(
            "n", F.aggregate("hist", F.lit(0).cast("long"), lambda a, c: a + c)
        )
        .withColumnRenamed("_cb", "bucket")
    )


def hist_apply_changes(
    old: DataFrame,
    changes: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Incremental maintenance of a histogram rollup from a CDC change set
    (``snapshots.read_changes`` output) — and unlike the min/max rollup
    (``rollup.rollup_apply_changes``), histograms are FULLY retractable:
    a delete just subtracts from its bin, so even delete-heavy change
    sets fold arithmetically with ZERO fact-table access. Untouched
    groups anti-join through; touched groups take
    ``zip_with(old_hist, delta_hist, +)``; groups whose counts reach 0
    vanish. IO ∝ change set, always."""
    from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    by_cols = [by] if isinstance(by, str) else list(by)
    keys = [*by_cols, "bucket"]
    w = (float(hi) - float(lo)) / int(bins)
    sign = _change_sign("_change_type")
    bin_ = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(w)), F.lit(0)
        ),
        F.lit(int(bins) - 1),
    )
    delta = (
        changes.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .withColumn("_bin", bin_)
        .withColumn("_sgn", sign)
        .groupBy(*keys)
        .agg(
            *[
                F.sum(F.when(F.col("_bin") == i, F.col("_sgn")).otherwise(0)).alias(
                    f"_d{i}"
                )
                for i in range(int(bins))
            ]
        )
        .select(*keys, F.array(*[f"_d{i}" for i in range(int(bins))]).alias("_dh"))
    )
    # the change-set aggregate feeds three consumers (touched-key probe,
    # anti-join, merge) — persist it once, change-sized, released by
    # plans.cache.release_persisted at the caller's stage boundary
    from acoustic_feature_extractor_spark.plans.cache import tracked_persist

    delta = tracked_persist(delta)
    # `old` also feeds two consumers (anti-join + merge) and is itself a
    # bins-wide aggregate — persist the rollup-sized frame rather than
    # recompute the 64-sum groupBy per consumer
    old = tracked_persist(old)
    touched = maybe_broadcast(delta.select(*keys))
    untouched = old.join(touched, keys, "anti")
    merged = (
        delta.join(old, keys, "left")
        .select(
            *keys,
            F.zip_with(
                F.coalesce(
                    F.col("hist"),
                    F.array(*[F.lit(0).cast("long")] * int(bins)),
                ),
                F.col("_dh"),
                lambda a, b: a + b,
            ).alias("hist"),
        )
        .withColumn(
            "n", F.aggregate("hist", F.lit(0).cast("long"), lambda a, c: a + c)
        )
        .where(F.col("n") > 0)  # fully-deleted groups vanish
    )
    return untouched.unionByName(merged.select(*keys, "n", "hist"))


# ---------------------------------------------------------------------------
# frequency sketches: mergeable top-k / heavy hitters for the rollup cascade
# ---------------------------------------------------------------------------
#
# The third non-decomposable aggregate class after DISTINCT and quantiles:
# "top tools per day" is not any function of the hours' top-k lists alone.
# The mergeable carrier is a Misra-Gries summary (Agarwal et al., "Mergeable
# Summaries", PODS 2012): at most `capacity` (item, cnt) counters per group
# plus one accumulated under-count bound `err`. Invariant at every grain:
#
#     stored_cnt  <=  true_cnt  <=  stored_cnt + err        (present items)
#     true_cnt    <=  err                                   (absent items)
#
# so any item whose true count exceeds `err` is GUARANTEED present, and
# err <= n/(capacity+1) by the classic MG bound. Counters sum under merge
# and the compress step (subtract the (capacity+1)-th largest counter,
# drop non-positive) adds that subtrahend to `err` — associative, so the
# cascade can fold hour→day→month without ever re-reading facts.
#
# The finest grain is EXACT (err = 0) unless it already exceeds capacity:
# one groupBy(entity, bucket, item) with map-side combine, then a
# rollup-sized rank/compress. Same at-rest contract as the HLL/histogram
# sketches: `capacity` is pinned at write time; merges may only lower it.


def _mg_compress(per_item: DataFrame, keys: list[str], capacity: int) -> DataFrame:
    """Fold exact/summed per-item rows (keys…, item, cnt, err_in, n) into one
    MG summary row per key group: (keys…, n, err, items). `err_in` is the
    per-group pre-merge error mass (0 at the finest grain); the compress
    decrement is the (capacity+1)-th largest counter (0 when the group
    already fits). Rollup-sized window work — the fact table never enters."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("cnt").desc(), F.col("item").asc()
    )
    ranked = per_item.withColumn("_rn", F.row_number().over(w))
    grouped = ranked.groupBy(*keys).agg(
        F.max("err_in").alias("_err_in"),
        F.max("n").alias("n"),
        F.max(F.when(F.col("_rn") == capacity + 1, F.col("cnt")).otherwise(0)).alias(
            "_delta"
        ),
        F.array_sort(
            F.collect_list(
                # cnt-null rows are the empty-group carriers from
                # topk_coarser's left join — they contribute (n, err)
                # through the aggregates above but no counter
                F.when(
                    (F.col("_rn") <= capacity) & F.col("cnt").isNotNull(),
                    F.struct(
                        (-F.col("cnt")).alias("_negcnt"),
                        F.col("item").alias("item"),
                        F.col("cnt").alias("cnt"),
                    ),
                )
            )
        ).alias("_items"),
    )
    items = F.filter(
        F.transform(
            "_items",
            lambda s: F.struct(
                s["item"].alias("item"), (s["cnt"] - F.col("_delta")).alias("cnt")
            ),
        ),
        lambda s: s["cnt"] > 0,
    )
    return grouped.select(
        *keys,
        "n",
        (F.col("_err_in") + F.col("_delta")).alias("err"),
        items.alias("items"),
    )


def freq_rollup(
    df: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    item_col: str,
) -> DataFrame:
    """EXACT per-(entity, bucket, item) frequency base table
    (by…, bucket, item, cnt) — one fact-table groupBy with map-side
    combine. This is the at-rest grain that supports RETRACTION
    (:func:`freq_apply_changes`); publish bounded summaries from it with
    :func:`topk_compress`."""
    by_cols = [by] if isinstance(by, str) else list(by)
    return (
        df.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .groupBy(
            *by_cols, "bucket", F.col(item_col).cast("string").alias("item")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def topk_rollup(
    df: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    item_col: str,
    capacity: int = 64,
) -> DataFrame:
    """Per-(entity, bucket) Misra-Gries frequency summary of ``item_col``:
    (by…, bucket, n, err, items: array<struct<item,cnt>> sorted by cnt desc /
    item asc, at most ``capacity`` entries). Exact (err = 0) whenever the
    group has ≤ capacity distinct items. One fact-table shuffle — the
    per-item partial counts ride map-side combine (:func:`freq_rollup`);
    the rank/compress that follows (:func:`topk_compress`) runs on
    rollup-sized data only."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    return topk_compress(
        freq_rollup(df, bucket_seconds, by, item_col),
        by,
        int(capacity),
        "bucket",
    )


def topk_coarser(
    fine: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    capacity: int,
    fine_seconds: float | None = None,
) -> DataFrame:
    """Merge a finer top-k rollup to a coarser grain WITHOUT touching the
    fact table: counters sum per item, error masses sum per group, then one
    MG compress back to ``capacity`` (pass the write-time capacity — merges
    may only keep or lower it, never raise it; explicit so planning stays
    free of driver actions). The mergeable-summaries bound survives:
    err ≤ Σ child errs + decrement."""
    if fine_seconds is not None:
        ratio = float(bucket_seconds) / float(fine_seconds)
        if abs(ratio - round(ratio)) > 1e-9 or round(ratio) < 1:
            raise ValueError(
                f"coarse width {bucket_seconds}s is not a multiple of the fine "
                f"width {fine_seconds}s — fine buckets would straddle coarse ones"
            )
    by_cols = [by] if isinstance(by, str) else list(by)
    keys = [*by_cols, "bucket"]
    coarse = fine.withColumn("_cb", time_bucket("bucket", bucket_seconds))
    ckeys = [*by_cols, "_cb"]
    group_tot = coarse.groupBy(*ckeys).agg(
        F.sum("err").alias("err_in"), F.sum("n").alias("n")
    )
    # LEFT from the totals: a child whose compress evicted EVERYTHING
    # (all-equal counters) has an empty items array — the explode yields
    # no rows for it, but its (n, err) mass must still reach the coarse
    # summary (absent items are bounded by err; dropping the group would
    # silently lose both the bound and the row count)
    per_item = group_tot.join(
        coarse.select(*ckeys, F.explode("items").alias("_s"))
        .groupBy(*ckeys, F.col("_s.item").alias("item"))
        .agg(F.sum("_s.cnt").alias("cnt")),
        ckeys,
        "left",
    )
    out = _mg_compress(per_item, ckeys, int(capacity))
    return out.withColumnRenamed("_cb", "bucket")


def topk_finalize(
    df: DataFrame,
    k: int,
    by: str | list[str],
) -> DataFrame:
    """Explode a top-k summary into ranked rows
    (by…, bucket, rank, item, cnt_lb, cnt_ub): ``cnt_lb`` is the stored
    counter (guaranteed ≤ true count), ``cnt_ub = cnt_lb + err`` (≥ true
    count). With err = 0 (capacity never exceeded) both bounds equal the
    exact count. Items are already sorted cnt desc / item asc in the array,
    so rank is positional — no window needed."""
    by_cols = [by] if isinstance(by, str) else list(by)
    return df.select(
        *by_cols,
        "bucket",
        "err",
        F.posexplode(F.slice("items", 1, int(k))).alias("_i", "_s"),
    ).select(
        *by_cols,
        "bucket",
        (F.col("_i") + 1).cast("long").alias("rank"),
        F.col("_s.item").alias("item"),
        F.col("_s.cnt").alias("cnt_lb"),
        (F.col("_s.cnt") + F.col("err")).alias("cnt_ub"),
    )


def hist_quantiles(
    df: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Finalize: append one estimate column ``q<pct>`` per requested
    quantile, interpolated uniformly inside the crossing bin — the
    textbook grouped-data estimator: with cumulative counts c and target
    t = q·n, the first bin i where c_i ≥ t yields
    ``lo + w·(i + (t − c_{i−1}) / hist_i)``. Error ≤ one bin width.
    Pure Column algebra over the array: the cumulative is ONE O(bins)
    array fold (append running total — JVM arraycopy per step), not the
    naive O(bins²) per-element slice-sum, which at 64 bins × 10^4 rollup
    rows costs ~40M interpreted HOF evaluations and dominated the whole
    query before this shape."""
    w = (float(hi) - float(lo)) / int(bins)
    cum = F.expr(
        "aggregate(hist, CAST(array() AS ARRAY<BIGINT>), "
        f"(acc, x) -> array_append(acc, "
        f"x + if(size(acc) = 0, 0L, acc[size(acc) - 1])))"
    )
    out = df.withColumn("_cum", cum)
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {q} outside (0, 1]")
        t = F.col("n").cast("double") * F.lit(float(q))
        idx = F.array_position(
            F.transform(F.col("_cum"), lambda c: c.cast("double") >= t), F.lit(True)
        ).cast("int")
        prev = F.when(idx > 1, F.element_at("_cum", idx - 1)).otherwise(
            F.lit(0)
        ).cast("double")
        cnt = F.element_at("hist", idx).cast("double")
        est = F.lit(float(lo)) + F.lit(w) * (
            (idx - 1).cast("double") + (t - prev) / cnt
        )
        name = f"q{str(q).replace('0.', '').replace('.', '_')}"
        out = out.withColumn(name, F.when(F.col("n") > 0, est))
    return out.drop("_cum")


def _hist_side(
    df: DataFrame,
    tag: str,
    by_cols: list[str],
    bins: int,
    hist_col: str,
    caller: str,
) -> DataFrame:
    """Explode one side's (by…, hist) summaries to (by…, _bin0, n_<tag>)
    rows, raising IN-PLAN when a hist's width disagrees with ``bins`` —
    two sketches on different domains would compare incomparable buckets."""
    checked = F.when(F.size(hist_col) == int(bins), F.col(hist_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{caller}: {tag} hist width "),
                F.size(hist_col).cast("string"),
                F.lit(f" != bins={int(bins)}"),
            )
        )
    )
    return df.select(*by_cols, F.posexplode(checked).alias("_bin0", f"n_{tag}"))


def psi_from_hists(
    ref: DataFrame,
    cur: DataFrame,
    by: str | list[str],
    bins: int,
) -> DataFrame:
    """Population Stability Index computed FROM histogram sketches instead
    of raw facts — the incremental-drift story: keep the reference window's
    ``hist_rollup`` at rest, maintain the current window's histogram with
    ``hist_apply_changes`` (IO ∝ CDC change set), and re-score drift each
    batch WITHOUT ever re-reading either fact table. Same Laplace
    smoothing (ε = 1e-6) and per-bin ``(p−q)·ln(p/q)`` term as
    ``stats.population_stability`` (sum terms per group for the scalar
    PSI; the per-bin table keeps drift locatable), but over the sketch's
    pinned equi-width bins rather than reference quantiles.

    Inputs are one summary row per group: (by…, n, hist) on the SAME
    (lo, hi, bins) domain — different domains would compare incomparable
    buckets, so ``bins`` is validated against both hist widths in-plan
    (raises at execution on a width mismatch). Groups present on one side
    only count as all-zero on the other (full outer join on ``by``).
    Everything is rollup-sized: the fact tables never enter the plan.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    r = _hist_side(ref, "ref", by_cols, bins, "hist", "psi_from_hists")
    c = _hist_side(cur, "cur", by_cols, bins, "hist", "psi_from_hists")
    keys = [*by_cols, "_bin0"]
    out = r.join(c, keys, "full").fillna(0, subset=["n_ref", "n_cur"])
    tot_r = F.sum("n_ref").over(Window.partitionBy(*by_cols))
    tot_c = F.sum("n_cur").over(Window.partitionBy(*by_cols))
    p = (F.col("n_ref") + F.lit(1e-6)) / (tot_r + F.lit(1e-6 * bins))
    q = (F.col("n_cur") + F.lit(1e-6)) / (tot_c + F.lit(1e-6 * bins))
    return out.select(
        *by_cols,
        (F.col("_bin0") + 1).alias("bin"),
        "n_ref",
        "n_cur",
        p.alias("p"),
        q.alias("q"),
        ((p - q) * F.log(p / q)).alias("psi_term"),
    )


def ks_from_hists(
    ref: DataFrame,
    cur: DataFrame,
    by: str | list[str],
    bins: int,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance from histogram sketches:
    ``D = max_b |ECDF_ref(b) − ECDF_cur(b)|`` over the shared equi-width
    bin grid — the distribution-free drift complement to
    :func:`psi_from_hists`. PSI weights log density RATIOS (a near-empty
    bin dominates the score, hence its Laplace smoothing); KS is the
    worst-case CDF gap, bounded in [0, 1], needs no smoothing, and is
    what a rank-based two-sample test monitors. Resolution-limited by
    design: the sketch grid caps the detectable gap at bin granularity
    (off-by-at-most the largest bin's mass vs the raw-sample statistic),
    the price of scoring from mergeable at-rest summaries instead of two
    fact scans.

    Inputs are one summary row per group: (by…, hist) on the SAME
    (lo, hi, bins) domain — width is validated in-plan like
    psi_from_hists. Groups present on one side only count as all-zero on
    the other (full outer join); a side with ZERO total has no ECDF, so
    its groups emit NULL rather than a fake distance. One row per group:
    (by…, n_ref, n_cur, ks). Everything is rollup-sized — bins× the
    group count — so the fan-in is a window cumsum plus one groupBy on
    sketch-sized data; the fact tables never enter the plan.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    r = _hist_side(ref, "ref", by_cols, bins, "hist", "ks_from_hists")
    c = _hist_side(cur, "cur", by_cols, bins, "hist", "ks_from_hists")
    keys = [*by_cols, "_bin0"]
    out = r.join(c, keys, "full").fillna(0, subset=["n_ref", "n_cur"])
    grp = Window.partitionBy(*by_cols)
    cum = grp.orderBy("_bin0")
    cr = F.sum("n_ref").over(cum)
    cc = F.sum("n_cur").over(cum)
    tot_r = F.sum("n_ref").over(grp)
    tot_c = F.sum("n_cur").over(grp)
    gap = F.when(
        (tot_r > 0) & (tot_c > 0),
        F.abs(
            cr.cast("double") / tot_r.cast("double")
            - cc.cast("double") / tot_c.cast("double")
        ),
    )
    return (
        out.select(*by_cols, F.col("n_ref"), F.col("n_cur"), gap.alias("_gap"))
        .groupBy(*by_cols)
        .agg(
            F.sum("n_ref").alias("n_ref"),
            F.sum("n_cur").alias("n_cur"),
            F.max("_gap").alias("ks"),
        )
    )


def drift_from_counts(
    ref: list[int], cur: list[int]
) -> tuple[float | None, float | None]:
    """``(psi, ks)`` of two bin-count lists, scored on the driver for when
    both histograms are already there (one pinned in lineage, one
    collected): the math of :func:`psi_from_hists` (Laplace ε = 1e-6, the
    summed per-bin ``(p−q)·ln(p/q)``) and :func:`ks_from_hists` (the max
    ECDF gap) without shipping the counts back into Spark. Both are
    ``None`` when either side totals zero: an empty side has no
    distribution, and its smoothed PSI would be a large number that says
    nothing (an empty increment is not drift). Raises on a width
    mismatch, as their in-plan check does."""
    if len(ref) != len(cur):
        raise ValueError(
            f"drift_from_counts: ref hist width {len(ref)} != cur hist width {len(cur)}"
        )
    bins = len(ref)
    tot_r, tot_c = sum(ref), sum(cur)
    if tot_r == 0 or tot_c == 0:
        return None, None
    psi = ks = 0.0
    cum_r = cum_c = 0
    for n_r, n_c in zip(ref, cur):
        p = (n_r + 1e-6) / (tot_r + 1e-6 * bins)
        q = (n_c + 1e-6) / (tot_c + 1e-6 * bins)
        psi += (p - q) * math.log(p / q)
        cum_r += n_r
        cum_c += n_c
        ks = max(ks, abs(cum_r / tot_r - cum_c / tot_c))
    return psi, ks


def freq_apply_changes(
    old_items: DataFrame,
    changes: DataFrame,
    bucket_seconds: float,
    by: str | list[str],
    item_col: str,
) -> DataFrame:
    """Incremental maintenance of the EXACT per-item frequency base (the
    finest grain under ``topk_rollup``) from a CDC change set
    (``snapshots.read_changes`` output): inserts add to their (group,
    bucket, item) counter, deletes subtract — counts are fully
    retractable, so even delete-heavy change sets fold arithmetically
    with ZERO fact-table access (same contract as
    ``hist_apply_changes``). Items whose count reaches 0 vanish;
    untouched rows anti-join through. Re-compress the result with
    ``_mg_compress`` via :func:`topk_compress` for fresh summaries.

    ``old_items`` is the exact base table (by…, bucket, item, cnt) — keep
    it at rest alongside the summaries; it is the ONLY representation that
    supports retraction (a compressed MG summary cannot un-count an
    evicted item). IO ∝ change set, always.
    """
    from acoustic_feature_extractor_spark.plans.cache import tracked_persist
    from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

    by_cols = [by] if isinstance(by, str) else list(by)
    keys = [*by_cols, "bucket", "item"]
    sign = _change_sign("_change_type")
    delta = (
        changes.withColumn("bucket", time_bucket("ts", bucket_seconds))
        .groupBy(*by_cols, "bucket", F.col(item_col).cast("string").alias("item"))
        .agg(F.sum(sign).alias("_d"))
        .where(F.col("_d") != 0)
    )
    delta = tracked_persist(delta)  # feeds probe + anti-join + merge
    old_items = tracked_persist(old_items)
    touched = maybe_broadcast(delta.select(*keys))
    untouched = old_items.join(touched, keys, "anti")
    merged = (
        delta.join(old_items, keys, "left")
        .select(
            *keys,
            (F.coalesce(F.col("cnt"), F.lit(0).cast("long")) + F.col("_d")).alias(
                "cnt"
            ),
        )
        .where(F.col("cnt") > 0)
    )
    return untouched.unionByName(merged)


def topk_compress(
    items: DataFrame,
    by: str | list[str],
    capacity: int,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Fold an exact per-item base table (by…, bucket, item, cnt) into MG
    summaries (by…, bucket, n, err, items) — the publish step after
    :func:`freq_apply_changes`. err = 0 whenever a group fits capacity."""
    by_cols = [by] if isinstance(by, str) else list(by)
    keys = [*by_cols, bucket_col]
    per_item = items.withColumn("err_in", F.lit(0).cast("long")).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*keys))
    )
    return _mg_compress(per_item, keys, int(capacity))


# ---------------------------------------------------------------------------
# count-min sketch: mergeable point-frequency estimates
# ---------------------------------------------------------------------------
#
# The third non-decomposable class after DISTINCT (HLL above) and
# quantiles (histograms above) is "how often did THIS item occur" when the
# item universe is unbounded (user ids, tool names, n-grams) — an exact
# per-item rollup is as wide as the universe. Misra-Gries (freq_rollup)
# answers the TOP-k slice of that question; count-min (Cormode &
# Muthukrishnan 2005) answers the POINT query for any item, with a fixed
# depth*width footprint and one-sided error (estimate >= truth,
# overshoot <= N*e/width with prob 1-(1/2)^depth).
#
# Carrier: LONG-FORM rows (by..., d, bucket, cnt) — d in [0, depth),
# bucket in [0, width). Merging is groupBy-sum (counter matrices add),
# identical in shape to hist_rollup, so the same cascade/CDC machinery
# applies. Buckets come from Kirsch-Mitzenmacher double hashing of the
# SQL-portable polynomial (one interpreted fold per row; per-depth lanes
# are pure arithmetic) — deterministic in any engine, which is what lets
# the DuckDB oracle recompute the sketch AND the estimate exactly.


def _cms_lanes(item, width: int) -> tuple:
    """The two Kirsch-Mitzenmacher hash lanes (b1, b2), each in
    [0, width): bucket_d = (b1 + d*b2) mod width. b2 comes from mixing
    the polynomial fold's two packed 31-bit accumulators with their
    halves SWAPPED — an independent avalanche of the same base state,
    replayed identically in the DuckDB oracle."""
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )

    base = token_hash_portable(item.cast("string"))
    swapped = F.shiftright(base, 31) + F.shiftleft(base.bitwiseAND(F.lit((1 << 31) - 1)), 31)
    u1 = portable_mix(base)
    u2 = portable_mix(swapped)
    return F.pmod(u1, F.lit(int(width))), F.pmod(u2, F.lit(int(width)))


def _with_cms_pairs(df: DataFrame, item, depth: int, width: int):
    """Project the lanes as REAL COLUMNS first, then build the per-depth
    (d, bucket) structs from column references in a second projection.
    The polynomial fold is an interpreted higher-order function, outside
    whole-stage codegen's subexpression elimination — inlining it into
    every array element re-evaluates it per depth per row (measured 1.6×
    on the bench table); the column barrier pins it to twice per row
    total, with per-depth buckets pure codegen arithmetic."""
    b1, b2 = _cms_lanes(item, width)
    d2 = df.withColumn("_cms_b1", b1).withColumn("_cms_b2", b2)
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(F.col("_cms_b1") + d * F.col("_cms_b2"), F.lit(int(width)))
                .cast("long")
                .alias("bucket"),
            )
            for d in range(int(depth))
        ]
    )
    return d2, pairs


def _cms_bucket(item, d: int, width: int):
    b1, b2 = _cms_lanes(item, width)
    return F.pmod(b1 + d * b2, F.lit(int(width))).cast("long")


def cms_rollup(
    df: DataFrame,
    item_col: str,
    by: str | list[str] | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Per-group count-min sketch of ``item_col``: long-form rows
    (by..., d, bucket, cnt). ONE pass over the facts: the depth
    replication is a map-side ``explode`` of a `depth`-element array (no
    join, no second scan), then a partial/final groupBy whose key space is
    at most |by| * depth * width rows — the shuffle carries counters, not
    items. NULL items are skipped (count them separately if they matter).
    """
    by_cols = [by] if isinstance(by, str) else list(by or [])
    item = F.col(item_col)
    src, pairs = _with_cms_pairs(df.where(item.isNotNull()), item, depth, width)
    return (
        src.select(*by_cols, F.explode(pairs).alias("_db"))
        .groupBy(*by_cols, F.col("_db.d").alias("d"), F.col("_db.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_coarser(
    fine: DataFrame, by: str | list[str] | None = None
) -> DataFrame:
    """Merge fine sketches to a coarser grouping WITHOUT the fact table:
    counter matrices add cell-wise. ``by`` is the coarser key set (subset
    of the fine one); [] folds everything into one global sketch. The
    (depth, width, hash) parameters are pinned at write time — merging
    sketches built with different parameters is caller error (cell counts
    would be meaningless), same contract as hist_coarser."""
    by_cols = [by] if isinstance(by, str) else list(by or [])
    return fine.groupBy(*by_cols, "d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    items: DataFrame,
    item_col: str,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for ``items`` (one row per queried item):
    min over the sketch's depth rows of the counter each hash lands in —
    never under the truth; items the sketch never saw can still report
    small positive counts (collision mass). The probe is a
    broadcast-friendly equi-join on (d, bucket): |items| * depth rows
    against the counter table, no fact-table access. A missing (d,
    bucket) cell means zero occurrences hashed there, so the min (and the
    estimate) is 0 — kept via the coalesce, not dropped by the join."""
    src, pairs = _with_cms_pairs(items, F.col(item_col), depth, width)
    probes = src.select(item_col, F.explode(pairs).alias("_db")).select(
        item_col, F.col("_db.d").alias("d"), F.col("_db.bucket").alias("bucket")
    )
    j = probes.join(cms, on=["d", "bucket"], how="left")
    return (
        j.groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("freq_est"))
    )
