"""Deterministic sampling / limiting (reference A8, O2).

The reference bounds cost by picking ≤ max_num files via a linspace over
the sorted list (``/root/reference/src/extractor/extract_f0_range.py:177-184``)
— a deterministic stratified subsample. Ours: rank entities and keep every
k-th, which preserves the "evenly spaced over the sorted key" property and
is fully distributed (no collect, one small agg for the count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.functions.scalars import searchsorted
from acoustic_feature_extractor_spark.operators.skew import (
    CHUNK_KEY,
    carry_across_chunks,
    chunk_key,
)


def stratified_entity_sample(
    df: DataFrame,
    max_entities: int,
    key: str = "conv_id",
) -> DataFrame:
    """Keep ≤ max_entities keys, evenly spaced over the sorted key space.

    The global rank is computed WITHOUT a single-partition window (the
    10^10-entity anti-pattern): keys chunk on driver-collected literal
    boundary keys (a deterministic function of the key, stable across
    plan re-execution), rank locally per chunk, and add tiny chunk-count
    offsets (``skew.carry_across_chunks``, as in the distributed weighted
    percentile).
    """
    keys = df.select(key).distinct()
    n = keys.count()
    if n <= max_entities:
        return df
    spark = df.sparkSession
    n_chunks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # boundary keys: deterministic hash-strided sample, any spacing works
    stride = max(2, n // n_chunks)
    bounds = sorted(
        r[key]
        for r in keys.where(F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(stride)) == 0)
        .limit(n_chunks - 1)
        .collect()
    )
    # log-depth CASE tree (codegen'd) instead of a linear interpreted HOF
    k = keys.withColumn(CHUNK_KEY, chunk_key([], searchsorted(key, bounds)))
    k = carry_across_chunks(k, sums={"_off": F.count("*")})
    w_local = Window.partitionBy(CHUNK_KEY).orderBy(key)
    k = k.withColumn("_rk", (F.row_number().over(w_local) - 1 + F.col("_off")).cast("double"))
    step = n / float(max_entities)
    rk = F.col("_rk")
    # linspace pick: floor(i*step) for i in 0..max-1  ⇔ keep ranks where
    # floor(rank/step) advances — identical spacing, no driver loop
    picked = k.where(F.floor(rk / step) != F.floor((rk - 1) / step)).select(key)
    return df.join(F.broadcast(picked), key, "left_semi")


# --------------------------------------------------------------------------
# training-data export ops: group-aware split / group balancing / sharding
# --------------------------------------------------------------------------
# All three key on the SQL-portable polynomial hash (dedup.token_hash_portable)
# finished with dedup.portable_mix rather than xxhash64 or rand(): the
# assignment is then reproducible on ANY engine and at any parallelism — the
# property a training-data layout needs (re-running the split next month, or
# on a different stack, must not move entities across the train/test boundary
# and contaminate evaluation). The mix step is load-bearing: the raw
# polynomial hash preserves key ORDER on short keys (no modulus wrap), which
# would turn "pseudo-random bucket/permutation" into "first 90% of users".


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Deterministic GROUP-AWARE train/val/test split.

    Every row sharing ``key_col`` (a conversation, a user, a document
    family) lands in the same split — `df.randomSplit` is row-level and
    `sampleBy` is neither key-consistent nor engine-portable.  The bucket
    is the portable hash of ``"<key>:<seed>"`` mod 10^6;
    ``fractions`` (insertion-ordered, summing to ~1) become cumulative
    bucket thresholds.  Pure projection: no shuffle, no state.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )

    total = float(sum(fractions.values()))
    bucket = F.pmod(
        portable_mix(
            token_hash_portable(
                F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))
            )
        ),
        F.lit(1_000_000),
    )
    items = list(fractions.items())
    expr = None
    acc = 0.0
    for name, frac in items[:-1]:
        acc += frac / total
        cond = bucket < F.lit(int(round(acc * 1_000_000)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(items[-1][0]) if expr is None else expr.otherwise(items[-1][0])
    return df.withColumn("split", expr)


def balanced_sample(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Per-group deterministic downsample to <= ``cap`` rows.

    The language/source-balancing primitive: cap over-represented groups
    (e.g. "at most 1M English docs") while small groups pass through
    whole.  Selection ranks each group by ``(portable_hash(id:seed), id)``
    and keeps rank <= cap — an unbiased, reproducible choice.

    Skew-safe two-phase plan: a mega-group (10^9 English docs, cap 10^6)
    would otherwise ship every row to one window partition.  Phase 1 ranks
    within each INPUT partition (no shuffle — ``spark_partition_id`` is
    only a pre-filter, correctness never depends on it) and keeps the
    local top-cap, bounding the shuffle to cap x partitions rows per
    group; phase 2 ranks the survivors globally per group.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )

    h = portable_mix(
        token_hash_portable(
            F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
        )
    )
    d = df.withColumn("_bh", h)
    local = Window.partitionBy(group_col, F.spark_partition_id()).orderBy(
        F.col("_bh").asc(), F.col(id_col).asc()
    )
    pre = d.withColumn("_lrk", F.row_number().over(local)).where(
        F.col("_lrk") <= cap
    )
    final = Window.partitionBy(group_col).orderBy(
        F.col("_bh").asc(), F.col(id_col).asc()
    )
    return (
        pre.withColumn("_rk", F.row_number().over(final))
        .where(F.col("_rk") <= cap)
        .drop("_bh", "_lrk", "_rk")
    )


def shard_shuffle(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    within: list[str] | None = None,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export.

    Adds ``shard`` (portable_hash(id:seed) mod n_shards) and ``pos``
    (0-based rank within the shard by (hash, id)) — a reproducible random
    order that any engine can recompute, unlike ``ORDER BY rand()``.
    Each shard sorts independently (one window partition per shard);
    size ``n_shards`` ~ corpus_rows / target_shard_rows so a shard's sort
    fits an executor — the shard count IS the parallelism knob, there is
    no global sort anywhere.

    ``within``: extra grouping columns (e.g. ``["split"]``) — shard ids
    and positions are then assigned independently inside each group, so
    a train/val/test export keeps every shard split-pure.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )

    h = portable_mix(
        token_hash_portable(
            F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
        )
    )
    d = df.withColumn("_sh", h).withColumn(
        "shard", F.pmod(F.col("_sh"), F.lit(n_shards)).cast("int")
    )
    parts = [*(within or []), "shard"]
    w = Window.partitionBy(*parts).orderBy(F.col("_sh").asc(), F.col(id_col).asc())
    return d.withColumn("pos", (F.row_number().over(w) - 1).cast("long")).drop("_sh")


def mixture_rates(
    df: DataFrame,
    group_col: str,
    temperature: float = 1.0,
) -> DataFrame:
    """Temperature-scaled mixture rates per group (the T5 / Pile
    source-mixing rule, public): group weight ∝ n^temperature, so
    T=1 reproduces natural proportions and T→0 flattens toward uniform.

    Output: (group, n_rows, rate) where ``rate`` is the expected copies
    per row — ``(n^T / Σ n^T) · N / n`` with N the input row count
    (rebalance while preserving corpus size).
    Rates > 1 mean upsampling (small sources), < 1 downsampling.

    Scale shape: one map-side-combined count per group plus a
    single-row total joined back — the per-group table is
    source/language-sized, never corpus-sized.
    """
    assert temperature > 0.0
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_rows"))
    w = F.pow(F.col("n_rows").cast("double"), F.lit(float(temperature)))
    counts = counts.withColumn("_w", w)
    tot = counts.agg(
        F.sum("_w").alias("_tw"), F.sum("n_rows").alias("_tn")
    )
    return (
        counts.crossJoin(F.broadcast(tot))  # tot is literally one row
        .select(
            group_col,
            "n_rows",
            (
                (F.col("_w") / F.col("_tw")) * F.col("_tn").cast("double") / F.col("n_rows").cast("double")
            ).alias("rate"),
        )
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    temperature: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic temperature mixing: each row is kept ``floor(rate)``
    times plus one more with probability ``frac(rate)``, decided by the
    portable hash of ``(id, seed)`` — key-consistent, engine-reproducible,
    no ``rand()``. Output rows carry ``copy`` (1-based replica index), so
    downstream shuffles (``shard_shuffle``) can spread replicas.

    Expected output size = the input size. Rates are clamped to 64
    copies — a tiny group under aggressive
    flattening could otherwise explode a single row thousands of times;
    the clamp bounds per-row fan-out (and the violation is visible in
    :func:`mixture_rates` output, which reports the unclamped rate).

    Scale shape: rates join back size-gated (group table is tiny); the
    replication is a per-row ``explode(sequence)`` — map-side, no extra
    shuffle anywhere.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )
    from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

    rates = mixture_rates(df, group_col, temperature)
    d = df.join(maybe_broadcast(rates.select(group_col, "rate")), group_col)
    rate = F.least(F.col("rate"), F.lit(64.0))
    hv = F.pmod(
        portable_mix(
            token_hash_portable(
                F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
            )
        ),
        F.lit(1_000_000_000),
    )
    base = F.floor(rate).cast("int")
    extra = (hv.cast("double") < (rate - F.floor(rate)) * F.lit(1e9)).cast("int")
    d = d.withColumn("_nc", base + extra).where(F.col("_nc") > 0)
    return (
        d.withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("_nc"))))
        .drop("_nc", "rate")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    group_cols: list[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows per group, one pass,
    deterministic — Efraimidis & Spirakis (2006) A-ES: each row draws
    ``u ~ U(0,1]`` and the k rows with the largest ``u^(1/w)`` form an
    exact weighted sample-without-replacement. Implemented on the
    monotone-equivalent ``ln(u)/w`` (no pow, better conditioning).

    ``u`` is the portable avalanche hash of ``"<key>:<seed>"`` mapped
    into (0, 1] — deterministic (same row -> same draw on any cluster
    size, partitioning, or engine: the DuckDB oracle replays the exact
    integer hash), re-drawable via ``seed``, and mergeable: top-k by key
    of a union is the union's top-k, so shards/partitions combine without
    coordination (the two-phase ``topk_per_group`` exploits exactly
    that). Weights must be > 0 — the plan raises on violation rather
    than silently mis-sampling.

    Scale: inherits ``topk_per_group``'s salted two-phase shape — no
    group ever sorts in one task; shuffle carries k×salt rows per group.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )
    from acoustic_feature_extractor_spark.operators.windows import topk_per_group

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    P = 2305843009213693951  # portable_mix range: [0, 2^61 - 1)
    h = portable_mix(
        token_hash_portable(
            F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))
        )
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float(P))  # (0, 1]
    w = F.when(
        F.col(weight_col) > 0, F.col(weight_col).cast("double")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: non-positive weight "),
                F.col(weight_col).cast("string"),
            )
        )
    )
    scored = df.withColumn("_es_key", F.log(u) / w)
    if group_cols:
        out = topk_per_group(
            scored, group_cols, [F.col("_es_key").desc(), F.col(key_col).asc()],
            k=int(k),
        )
    else:
        out = topk_per_group(
            scored.withColumn("_g", F.lit(1)), "_g",
            [F.col("_es_key").desc(), F.col(key_col).asc()],
            k=int(k),
        ).drop("_g")
    return out.drop("_es_key")


def negative_sample(
    anchors: DataFrame,
    pool: DataFrame,
    k: int,
    anchor_col: str,
    pool_col: str,
    seed: int = 7,
    buckets: int = 64,
) -> DataFrame:
    """Deterministic contrastive negatives: for every anchor, ``k``
    pseudo-random draws (with replacement) from the candidate pool —
    (anchor, neg_rank, negative), self-matches dropped (so "at most k";
    oversample and trim if exactly-k matters). The standard mining step
    for contrastive/embedding training data, made engine-portable: both
    the pool permutation and the per-(anchor, j) pick come from the
    SQL-portable hash, so the SAME pairs come out of any engine, any
    partitioning, any cluster size.

    Scale shape — nothing global, nothing random at runtime:

    1. The pool gets an exact dense index [0, N) WITHOUT a global sort:
       hash-bucket the permutation key, rank inside each bucket, add tiny
       per-bucket offsets (``skew.carry_across_chunks``, the two-phase rank
       used by the distributed weighted percentile). The index equals
       ``row_number() OVER (ORDER BY bucket, h, id) - 1`` — which is what
       the DuckDB oracle recomputes — but costs one hash-partition
       exchange instead of a single-partition sort. At 10^9+ pool rows,
       write it once at rest and reuse across training runs.
    2. Anchors explode k probe rows; pick = hash(anchor, j, seed) mod N
       (N arrives via a 1-row broadcast, not a driver action).
    3. One equi-join probes.pick == pool.idx delivers the negatives.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        portable_mix,
        token_hash_portable,
    )
    from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _h(*parts) -> F.Column:
        s = F.concat_ws(":", *[p.cast("string") for p in parts])
        return portable_mix(token_hash_portable(s))

    p = pool.select(F.col(pool_col).alias("_pid")).withColumn(
        "_h", _h(F.col("_pid"), F.lit(int(seed)))
    )
    p = p.withColumn(CHUNK_KEY, chunk_key([], F.pmod("_h", F.lit(int(buckets)))))
    rank = F.row_number().over(Window.partitionBy(CHUNK_KEY).orderBy("_h", "_pid"))
    indexed = carry_across_chunks(p, sums={"_off": F.count(F.lit(1))}).select(
        "_pid", (F.col("_off") + rank - 1).alias("_idx")
    )
    n_df = p.agg(F.count(F.lit(1)).alias("_N"))
    probes = (
        anchors.select(F.col(anchor_col).alias("_aid"))
        .select(
            "_aid",
            F.explode(F.array(*[F.lit(j) for j in range(int(k))])).alias("neg_rank"),
        )
        .crossJoin(maybe_broadcast(n_df))
        .select(
            "_aid",
            "neg_rank",
            F.pmod(
                _h(F.col("_aid"), F.col("neg_rank"), F.lit(int(seed) + 1)),
                F.col("_N"),
            ).alias("_pick"),
        )
    )
    return (
        probes.join(indexed, probes["_pick"] == indexed["_idx"])
        .where(F.col("_pid") != F.col("_aid"))
        .select(
            F.col("_aid").alias(anchor_col + "_anchor"),
            "neg_rank",
            F.col("_pid").alias(pool_col + "_negative"),
        )
    )
