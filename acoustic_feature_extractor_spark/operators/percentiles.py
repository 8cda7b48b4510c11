"""Percentiles: exact, approximate, weighted; histogram-vote filtering;
iterative range refinement.

Reference parity targets:
- percentile report (``analyze_f0.py:36-43``) — exact ``numpy.percentile``
  (linear interpolation) ⇔ Spark ``percentile``; at 10^12 rows use
  ``percentile_approx`` (documented tolerance).
- weighted percentile (``extract_f0_range.py:113-150``): sort values,
  cumsum weights, linearly interpolate at target cumulative weight.
- histogram vote filter (``extract_f0_range.py:204-213``): drop values in
  log-space bins holding < ``min_mass`` of total weight.
- iterative range refinement (``extract_f0_range.py:307-353``): N driver
  rounds of filter → weighted percentiles → expand range 10% in log space.

The weighted percentile is exact with NO UDAF: one global sort-window
cumsum (single shuffle; the value set is post-filter and per-group small)
then a bracketing interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.plans.cache import tracked_persist

from acoustic_feature_extractor_spark.functions.scalars import searchsorted
from acoustic_feature_extractor_spark.operators.skew import (
    CHUNK_KEY,
    carry_across_chunks,
    chunk_key,
    chunk_window,
    join_chunk_summary,
)
from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast


def percentile_report(
    df: DataFrame,
    value_col: str,
    qs: list[float] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Long-form (q, value) percentile table, exact or approx."""
    qs = qs if qs is not None else [0.0, 0.001, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999, 1.0]
    arr = F.array(*[F.lit(float(q)) for q in qs])
    fn = "percentile" if exact else "percentile_approx"
    agg = F.expr(f"{fn}({value_col}, array({','.join(str(float(q)) for q in qs)}))").alias("_vals")
    return df.agg(agg).select(
        F.explode(F.arrays_zip(arr.alias("q"), F.col("_vals").alias("value"))).alias("_z"),
    ).select(F.col("_z.q").alias("q"), F.col("_z.value").alias("value"))


def value_bounds(d: DataFrame, value_col: str) -> list[float]:
    """Sorted chunk boundaries for ``value_col``: its approximate
    ``i/n`` quantiles, ``n`` = the session's shuffle partitions. 0.01 relative error: the bounds only balance the chunking
    (never a result), so a loose sketch is free accuracy-wise and cheaper
    to merge."""
    n = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    fractions = [i / n for i in range(1, n)]
    if not fractions:
        return []
    v = d.select(F.col(value_col).cast("double").alias("_vb"))
    return sorted(set(v.stat.approxQuantile("_vb", fractions, 0.01)))


def weighted_percentile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: list[float],
    chunk_bounds: list[float] | None = None,
) -> DataFrame:
    """Exact weighted percentile, fully distributed (``extract_f0_range.py:113-150``).

    Reference semantics: with sorted values and cumulative weights ``cw``
    (shifted to start at 0 via ``cw - w``), the percentile at fraction q is
    the linear interpolation of value over the *normalized mid-cumulative*
    weight grid ``(cw - w/2) / total``, i.e. numpy.interp(q, mids, values)
    — edge-clamped. Output: one row per q.

    Scale shape — NO single-partition stage anywhere: the global sorted
    cumsum is a range-partitioned sort + chunk-local cumsum + tiny
    per-partition offset table joined back (two-phase partial/final,
    ``skew.carry_across_chunks``); the cross-partition ``lead`` for
    the bracketing row is stitched from each partition's first row. A
    naive ``Window.orderBy(value)`` with no partition key would move the
    full value set into ONE task — this never does.

    Ties: callers must pre-aggregate weights per distinct value
    (as the reference effectively does by histogramming) so cumsum order
    over equal values cannot differ between runs/engines.
    """
    d = df.select(F.col(value_col).alias("_v"), F.col(weight_col).cast("double").alias("_w"))
    # Chunk id must be a DETERMINISTIC function of the row, never
    # spark_partition_id(): the plan below re-executes this lineage in
    # several branches (offsets, totals, first-row stitch), and a physical
    # partition id is not stable across recomputations — the offset table
    # could describe a different partitioning than the fact rows. Instead:
    # driver-collected approx-quantile boundaries become literals, and the
    # chunk is "how many boundaries <= value" — pure column math, identical
    # in every branch.
    if chunk_bounds is not None:
        # caller-supplied bounds (e.g. the iterative-refinement loop
        # reuses round 1's bounds every round): skips the sketch scan.
        # Any sorted list is CORRECT — bounds only balance chunk sizes.
        bounds = sorted(set(chunk_bounds))
    else:
        bounds = value_bounds(d, "_v")
    # log-depth codegen'd CASE tree, not a linear interpreted HOF —
    # at 2048 cluster partitions the per-row cost is 11 comparisons,
    # not 2047 interpreted lambda steps
    d = d.withColumn(
        CHUNK_KEY, chunk_key([], searchsorted("_v", [float(b) for b in bounds]))
    )
    w_local = Window.partitionBy(CHUNK_KEY).orderBy("_v")
    w_local_cum = w_local.rowsBetween(Window.unboundedPreceding, 0)
    d = d.withColumn("_lcw", F.sum("_w").over(w_local_cum)).withColumn(
        "_lrn", F.row_number().over(w_local)
    )
    # the chunked cumsum feeds four branches (offsets, first-row stitch,
    # extrema, the fact scan itself) — materialize it once rather than
    # re-sorting the fact table per branch. Lifetime: tracked — a
    # long-lived driver calls plans.cache.release_persisted() at stage
    # boundaries (bench.py clearCache()s between queries).
    d = tracked_persist(d)
    # tiny per-chunk summary -> exclusive prefix offsets + totals
    d = carry_across_chunks(
        d,
        sums={"_off": F.sum("_w"), "_roff": F.count("*")},
        totals={"_total": F.sum("_w")},
    )
    d = (
        d.withColumn("_cw", F.col("_lcw") + F.col("_off"))
        .withColumn("_mid", (F.col("_cw") - F.col("_w") / 2) / F.col("_total"))
        .withColumn("_grn", F.col("_lrn") + F.col("_roff"))  # global rank
    )
    # bracketing lead: partition-local, stitched across partition edges
    # with each partition's first (mid, v) (one row per partition)
    d = d.withColumn("_next_mid_l", F.lead("_mid").over(w_local)).withColumn(
        "_next_v_l", F.lead("_v").over(w_local)
    )
    firsts = d.where(F.col("_lrn") == 1).select(
        CHUNK_KEY, F.col("_mid").alias("_f_mid"), F.col("_v").alias("_f_v")
    )
    w_nextp = chunk_window(firsts)
    nexts = firsts.select(
        CHUNK_KEY,
        F.lead("_f_mid").over(w_nextp).alias("_nf_mid"),
        F.lead("_f_v").over(w_nextp).alias("_nf_v"),
    )
    # every chunk has a first row, so an inner join keeps every row
    d = join_chunk_summary(d, nexts)
    d = d.withColumn(
        "_next_mid", F.coalesce(F.col("_next_mid_l"), F.col("_nf_mid"))
    ).withColumn("_next_v", F.coalesce(F.col("_next_v_l"), F.col("_nf_v")))
    # ALL quantiles in ONE scan: explode the (tiny, literal) q list per
    # row and keep each q's bracketing row — a per-q filter loop would
    # rescan the fact table len(qs) times.
    # Edge clamps use the first/last ROW itself (global rank 1 / no next),
    # never a float-equality match against independently-aggregated
    # extrema — two float sums over different orders can differ by ulps,
    # and a failed equality would silently drop the quantile. The first
    # row's _v IS the min value and the last row's _v IS the max, so no
    # separate extrema pass is needed (numpy.interp edge semantics).
    ql = F.col("_q")
    d = d.withColumn("_q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
    seg = d.where(
        ((F.col("_mid") <= ql) & (ql < F.coalesce(F.col("_next_mid"), F.lit(float("inf")))))
        | ((ql < F.col("_mid")) & (F.col("_grn") == 1))
    )
    interp = (
        F.when(ql < F.col("_mid"), F.col("_v"))        # below-range clamp
        .when(F.col("_next_mid").isNull(), F.col("_v"))  # last row: clamp
        .otherwise(
            F.col("_v")
            + (F.col("_next_v") - F.col("_v"))
            * (ql - F.col("_mid"))
            / (F.col("_next_mid") - F.col("_mid"))
        )
    )
    return (
        seg.select(ql.alias("q"), interp.alias("value"))
        .groupBy("q")
        .agg(F.min("value").alias("value"))
    )


def quantile_bin(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    tiebreak_cols: list[str] | None = None,
    group_cols: list[str] | None = None,
    out_col: str = "bin",
    chunk_bounds: list[float] | None = None,
) -> DataFrame:
    """Exact equal-frequency binning (quantile discretization): row with
    0-based rank r of n gets bin ``floor(r * n_bins / n)`` — ntile-shaped
    bucket sizes (larger buckets first), EXACT, with no single-task global
    sort: approx-quantile literals chunk the value range (balance only,
    never semantics), rank = chunk-local row_number + exclusive per-chunk
    count prefix (``skew.carry_across_chunks``, as in weighted_percentile).

    ``chunk_bounds``: caller-supplied sorted boundaries skip the sketch
    scan — pass the same bounds to several binnings of one value column
    (any sorted list is CORRECT; bounds only balance chunk sizes).

    Rank order is (value, *tiebreak_cols) — pass a unique tiebreak so the
    binning is deterministic across runs/engines. Null values are dropped
    (a null has no quantile). Grouped mode ranks within each group using
    the same GLOBAL chunk bounds (any monotone chunking splits every
    group's order into contiguous runs).
    """
    gcols = group_cols or []
    tcols = tiebreak_cols or []
    d = df.where(F.col(value_col).isNotNull())
    if chunk_bounds is not None:
        bounds = sorted(set(chunk_bounds))
    else:
        bounds = value_bounds(d, value_col)
    # name (not Column) so the CASE tree parses as ONE F.expr string
    d = d.withColumn("_vd", F.col(value_col).cast("double")).withColumn(
        CHUNK_KEY, chunk_key(gcols, searchsorted("_vd", [float(b) for b in bounds]))
    ).drop("_vd")
    d = carry_across_chunks(
        d, sums={"_roff": F.count("*")}, totals={"_ntot": F.count("*")}
    )
    w_local = Window.partitionBy(*gcols, CHUNK_KEY).orderBy(value_col, *tcols)
    rank0 = F.row_number().over(w_local) + F.col("_roff") - 1  # 0-based global rank
    return d.withColumn(
        out_col, F.floor(rank0 * F.lit(int(n_bins)) / F.col("_ntot")).cast("long")
    ).drop(CHUNK_KEY, "_roff", "_ntot")


def histogram_vote_filter(
    df: DataFrame,
    value_col: str,
    weight_col: str | None = None,
    n_bins: int = 100,
    min_mass: float = 0.003,
) -> DataFrame:
    """Drop rows in low-mass histogram bins (``extract_f0_range.py:204-213``).

    Bin in log space over [min, max], weighted counts per bin, keep rows in
    bins with mass ≥ ``min_mass`` of the total. Two tiny aggregates + one
    broadcast join back — the fact table shuffles zero times.
    """
    # log bins are only defined for positive values; non-positive rows
    # are dropped up front (F.log would yield null and the null-skipping
    # least() would silently dump them into the TOP bin)
    df = df.where(F.col(value_col) > 0)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    d = df.withColumn("_lv", F.log(F.col(value_col))).withColumn("_w", w)
    rng = d.agg(F.min("_lv").alias("_lo"), F.max("_lv").alias("_hi"))
    d = d.crossJoin(maybe_broadcast(rng))
    # constant-valued input: every row in bin 0 (bare division by the zero
    # width would abort under ANSI mode)
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    bin_col = F.when(
        F.col("_hi") == F.col("_lo"), F.lit(0)
    ).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("_lv") - F.col("_lo")) / width).cast("int"),
        )
    )
    d = d.withColumn("_bin", bin_col)
    mass = d.groupBy("_bin").agg(F.sum("_w").alias("_m"))
    total = d.agg(F.sum("_w").alias("_t"))
    keep = (
        mass.crossJoin(maybe_broadcast(total))
        .where(F.col("_m") / F.col("_t") >= min_mass)
        .select("_bin")
    )
    out = d.join(maybe_broadcast(keep), ["_bin"], "left_semi")
    return out.drop("_lv", "_w", "_lo", "_hi", "_bin")


def iterative_range_refine(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    n_rounds: int = 3,
    q_lo: float = 0.001,
    q_hi: float = 0.999,
    expand: float = 0.10,
) -> tuple[float, float]:
    """Driver-loop trimmed-range convergence (``extract_f0_range.py:307-353``).

    Each round: filter to the current [lo, hi], take weighted (q_lo, q_hi)
    percentiles, expand the bracket by ``expand`` in log space. Returns the
    final (lo, hi). Deterministic multi-pass over Spark jobs — the
    reference's iterative refinement recast as a driver loop; ``df`` should
    be cached by the caller across rounds.
    """
    import math

    # ONE chunk-bound sketch for the whole loop: every round's trimmed set
    # is a subset of the full input, so the initial bounds stay balanced
    # (some chunks empty out — harmless) and each round skips its own
    # sketch scan. Bounds only balance chunking, never percentile values.
    bounds = value_bounds(df, value_col)

    lo, hi = None, None
    for _ in range(n_rounds):
        cur = df
        if lo is not None:
            cur = cur.where((F.col(value_col) >= lo) & (F.col(value_col) <= hi))
        pcts = {
            r["q"]: r["value"]
            for r in weighted_percentile(
                cur, value_col, weight_col, [q_lo, q_hi], chunk_bounds=bounds
            ).collect()
        }
        plo, phi = pcts[q_lo], pcts[q_hi]
        lo = math.exp(math.log(plo) - expand * (math.log(phi) - math.log(plo)))
        hi = math.exp(math.log(phi) + expand * (math.log(phi) - math.log(plo)))
    return lo, hi
