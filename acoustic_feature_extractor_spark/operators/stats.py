"""Two-phase statistics + broadcast linear normalization.

Reference parity targets:
- global mean/var over valid values (``extract_f0_statistics.py:29-36``;
  **population** variance — ``numpy.var`` — so ``var_pop``, not Spark's
  default ``var_samp``).
- linear stat conversion ``F0.convert``
  (``/root/reference/src/acoustic_feature_extractor/data/f0.py:92-126``):
  ``x' = (tv/iv)·(x − im) + tm`` where (im, iv) are input mean/std-like
  stats and (tm, tv) targets; here always the z-score (tm = 0, tv = 1).
- grouped summaries (``analyze_ebur128.py:31-56``).

Catalyst plans partial+final HashAggregate automatically (the reference's
driver-side final aggregate, SURVEY.md §3.2); the stats side is tiny and
broadcast into the projection — no second shuffle over the fact table.
"""

from __future__ import annotations

from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def corpus_aggs(value: str | Column) -> list[Column]:
    """The aggregates of :func:`corpus_stats` over one value: mean,
    var_pop, stddev_pop, count, min and max. Also usable as the metrics of
    an ``Observation``, which computes them on a write instead of in a
    job of their own."""
    return [
        F.mean(value).alias("mean"),
        F.var_pop(value).alias("var"),
        F.stddev_pop(value).alias("stddev"),
        F.count(value).alias("n"),
        F.min(value).alias("min"),
        F.max(value).alias("max"),
    ]


def corpus_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """mean / var_pop / stddev_pop / count, optionally grouped."""
    aggs = corpus_aggs(value_col)
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def normalize(df: DataFrame, value_col: str, stats: DataFrame) -> DataFrame:
    """Z-score ``{value_col}_norm = (x − im) / iv``: the reference's linear
    conversion ``x' = (tv/iv)·(x − im) + tm`` (``f0.py:119-123``) at
    ``tm = 0``, ``tv = 1``.

    ``stats`` is the tiny 1-row output of :func:`corpus_stats`,
    cross-broadcast into the projection. ``iv`` is stddev_pop: the
    reference passes ``var`` fields that its formula treats as scales.
    """
    sel = stats.select(F.col("mean").alias("_im"), F.col("stddev").alias("_iv"))
    # constant-valued column => stddev 0: every value IS the mean, so the
    # normalized value is 0 (a bare division would abort the job under
    # Spark 4's default ANSI mode)
    converted = F.when(
        F.col("_iv") != 0.0, (F.lit(1.0) / F.col("_iv")) * (F.col(value_col) - F.col("_im"))
    ).otherwise(F.lit(0.0))
    return (
        df.crossJoin(maybe_broadcast(sel))
        .withColumn(f"{value_col}_norm", converted)
        .drop("_im", "_iv")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    q_lo: float = 0.05,
    q_hi: float = 0.95,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its exact [q_lo, q_hi] percentile bounds, as
    ``{value_col}_w``.

    The outlier-capping stage of a feature pipeline (the reference trims
    by percentile range before computing statistics,
    ``extract_f0_range.py:307-353``; winsorizing is the keep-the-row
    variant). Exact ``percentile`` (linear interpolation — numpy/DuckDB
    ``quantile_cont`` semantics); at 10^12 rows substitute
    ``percentile_approx`` via ``exact=False``-style callers. The bounds
    table is one row (global) or one per group — broadcast back, fact
    table shuffles zero times in the global case.
    """
    aggs = [
        F.expr(f"percentile({value_col}, {float(q_lo)})").alias("_lo"),
        F.expr(f"percentile({value_col}, {float(q_hi)})").alias("_hi"),
    ]
    if group_cols:
        bounds = df.groupBy(*group_cols).agg(*aggs)
        j = df.join(maybe_broadcast(bounds), group_cols, "left")
    else:
        bounds = df.agg(*aggs)
        j = df.crossJoin(maybe_broadcast(bounds))
    clipped = F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi"))
    return j.withColumn(f"{value_col}_w", clipped).drop("_lo", "_hi")


def all_same_filter(
    df: DataFrame, value_col: str, key: str = "conv_id"
) -> DataFrame:
    """Drop entities whose value is constant (``sampling_data.all_same``,
    used by ``extract_splited_local.py:28-31``). Anti-join on min==max —
    two-phase agg + broadcast anti, no full shuffle of the fact table."""
    degenerate_keys = (
        df.groupBy(key)
        .agg(F.min(value_col).alias("_mn"), F.max(value_col).alias("_mx"))
        .where(F.col("_mn") == F.col("_mx"))
        .select(key)
    )
    # degenerate-key set is fact-scaled: estimate-gated hint
    return df.join(maybe_broadcast(degenerate_keys), key, "left_anti")


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Median/MAD outlier scoring (Iglewicz-Hoaglin modified z-score):
    ``z = 0.6745 * (x - median) / MAD`` in ``robust_z``, ``is_outlier`` when
    ``|z| > 3.5`` (the published threshold). Robust where the mean/std z-score is
    not: a handful of corrupt 10^9-length documents cannot drag the
    center or the scale.

    Plan shape: two tiny exact-percentile aggregates (median, then median
    of |x - median|) broadcast back into a projection — the fact table
    shuffles ZERO times. Degenerate groups (MAD = 0, i.e. >= half the
    values sit exactly on the median) get ``z = null``; a row is then
    flagged only if it differs from the median at all.
    """
    gcols = group_cols or []
    med = df.groupBy(*gcols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    d = df.join(maybe_broadcast(med), gcols) if gcols else df.crossJoin(maybe_broadcast(med))
    d = d.withColumn("_ad", F.abs(F.col(value_col) - F.col("_med")))
    mad = d.groupBy(*gcols).agg(F.expr("percentile(_ad, 0.5)").alias("_mad"))
    d = d.join(maybe_broadcast(mad), gcols) if gcols else d.crossJoin(maybe_broadcast(mad))
    z = F.when(
        F.col("_mad") > 0,
        F.lit(0.6745) * (F.col(value_col) - F.col("_med")) / F.col("_mad"),
    )
    d = d.withColumn("robust_z", z)
    flag = F.when(F.col("_mad") > 0, F.abs(F.col("robust_z")) > F.lit(3.5)).otherwise(
        F.col("_ad") > 0
    )
    return d.withColumn("is_outlier", flag).drop("_med", "_mad", "_ad")


def population_stability(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index drift monitor between a reference slice
    and a current slice of a feature column (the standard production
    check that a feature's distribution hasn't drifted between training
    and serving — or between two ingest windows of a 100 TB corpus).

    Bin edges are the reference slice's exact ``k/bins`` quantiles
    (Spark ``percentile`` ⇔ DuckDB ``quantile_cont``, the repo's pinned
    pair), so the reference lands ~uniformly and PSI reads in the usual
    calibration (<0.1 stable, >0.25 drifted). Both slices bucket with the
    same open-ended edges: ``bin = 1 + Σ (v > cut_k)``.

    Returns one row per (group, bin): counts, Laplace-smoothed shares
    ``p`` (ref) / ``q`` (cur), and the PSI term ``(p−q)·ln(p/q)`` — sum
    the terms for the scalar PSI; keeping the per-bin table makes the
    drift LOCATABLE (which part of the distribution moved).

    Scale shape: the cut table is ``|groups|`` rows (broadcast); each
    slice then does ONE map-side bucket projection + ONE partial-agg
    groupBy on (group, bin) — two scans, no join of fact tables, mergeable
    across partitions by construction. Empty bins still appear (dense
    ``sequence`` spine per group), so PSI never silently drops a bucket.
    """
    by = by or []
    qs = [k / bins for k in range(1, bins)]
    agg = F.expr(
        f"percentile({value_col}, array({','.join(str(q) for q in qs)}))"
    ).alias("_cuts")
    cuts = ref.groupBy(*by).agg(agg) if by else ref.agg(agg)

    def bucketed(df: DataFrame, side: str) -> DataFrame:
        j = (
            df.join(maybe_broadcast(cuts), by)
            if by
            else df.crossJoin(maybe_broadcast(cuts))
        )
        b = F.lit(1) + F.aggregate(
            F.col("_cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col(value_col) > c, 1).otherwise(0),
        )
        return (
            j.withColumn("_bin", b)
            .groupBy(*by, "_bin")
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )
    r = bucketed(ref, "ref")
    c = bucketed(cur, "cur")
    # dense bin spine per group: a bucket empty on one side must still
    # contribute its smoothed term
    spine = cuts.select(*by).withColumn(
        "_bin", F.explode(F.sequence(F.lit(1), F.lit(bins)))
    )
    out = (
        spine.join(r, [*by, "_bin"], "left")
        .join(c, [*by, "_bin"], "left")
        .fillna(0, subset=["n_ref", "n_cur"])
    )
    tot_r = F.sum("n_ref").over(Window.partitionBy(*by) if by else Window.partitionBy())
    tot_c = F.sum("n_cur").over(Window.partitionBy(*by) if by else Window.partitionBy())
    p = (F.col("n_ref") + F.lit(eps)) / (tot_r + F.lit(eps * bins))
    q = (F.col("n_cur") + F.lit(eps)) / (tot_c + F.lit(eps * bins))
    return out.select(
        *by,
        F.col("_bin").alias("bin"),
        "n_ref",
        "n_cur",
        p.alias("p"),
        q.alias("q"),
        ((p - q) * F.log(p / q)).alias("psi_term"),
    )
