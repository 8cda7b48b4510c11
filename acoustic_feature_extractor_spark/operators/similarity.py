"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; LSH-bucketed (random
hyperplane) and IVF (coarse-centroid) variants as the scale path. Dot
products stay JVM-side via ``zip_with`` + ``aggregate`` (no Python);
per-query top-k via window row_number.

Scale notes: brute force broadcasts the (small) query set and scans the
corpus once — linear, shuffle-free until the per-query top-k (one shuffle
keyed by query, k rows per query survive the partial top-k thanks to
AQE/partial sort). LSH cuts the scanned fraction to colliding buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL for zero-norm vectors (a bare division
    would abort the job under Spark 4's default ANSI mode — null instead
    ranks the degenerate vector last / fails threshold filters)."""
    denom = l2norm(a) * l2norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force, broadcast
    queries); a query is never its own neighbor.

    Output: (query_id, neighbor_id, rank) — rank 1..k by cosine desc,
    neighbor_id asc tiebreak (deterministic).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("_qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("_cv")
    )
    j = c.crossJoin(maybe_broadcast(q)).where(F.col("query_id") != F.col("neighbor_id"))
    scored = j.withColumn("_cos", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1).

    Pure arithmetic (same mix as datagen) so the projection is reproducible
    anywhere — no RNG state shipped to executors.
    """
    mix, mod = 2654435761, 2147483647
    return [
        (((plane * 10_007 + d + 42) * mix) % mod) / (mod / 2.0) - 1.0
        for d in range(dim)
    ]


def lsh_bucket(vec: str, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (int in [0, 2^n_planes)).

    ``vec`` is a column NAME: the whole projection is ONE parsed F.expr
    string — building n_planes × dim literal Columns costs a py4j round
    trip each (driver-latency hot spot); the string is a single call.
    """
    terms = []
    for p in range(n_planes):
        vals = ", ".join(f"{w!r}d" for w in _hyperplane(dim, p))
        proj = (
            f"aggregate(zip_with({vec}, array({vals}), (x, y) -> x * y), "
            "0d, (acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {proj} > 0d THEN {1 << (n_planes - 1 - p)} ELSE 0 END)"
        )
    return F.expr(" + ".join(terms))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    At scale the corpus is pre-bucketed (partitioned by bucket); a query
    touches one partition instead of the full scan. Recall is tunable via
    ``n_planes`` and ``probe_hamming`` (multi-probe): the query also
    probes every bucket within that Hamming distance of its own —
    ``probe_hamming = n_planes`` probes ALL buckets and degrades exactly
    to brute force (the oracle identity the driver checks), while small
    values trade recall for scan fraction. The probe fan-out is a literal
    XOR-mask explode on the query side only — the (large) corpus is still
    touched once per probed bucket via the equi-join.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    ).withColumn("_bkt", lsh_bucket("_qv", dim, n_planes))
    if probe_hamming > 0:
        masks = [
            m for m in range(1 << n_planes) if bin(m).count("1") <= probe_hamming
        ]
        q = q.withColumn(
            "_bkt",
            F.explode(
                F.array(*[F.col("_bkt").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    ).withColumn("_bkt", lsh_bucket("_cv", dim, n_planes))
    j = c.join(maybe_broadcast(q), "_bkt").where(F.col("query_id") != F.col("neighbor_id"))
    scored = j.withColumn("_cos", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def _nearest_centroid_cols(vec: str, centroids: list[list[float]], n_probe: int) -> Column:
    """Array of the ``n_probe`` nearest centroid ids (by cosine) for ``vec``.

    Centroids are literal arrays (driver-picked, tiny), so the whole
    assignment is one JVM-side expression — no join, no Python. The
    centroids are UNIT-normalized on the driver and ranked by plain dot
    product: cosine's division by |vec| is constant across candidates, so
    the argmax is identical — and the expression skips both the
    per-centroid |vec| recomputation and the division (HOF expressions
    are interpreted; halving their count halves the assignment cost).
    """
    units = []
    for c in centroids:
        nrm = sum(x * x for x in c) ** 0.5 or 1.0
        units.append([float(x) / nrm for x in c])
    # ONE F.expr string for the whole assignment: building it from Column
    # operators costs n_centroids × dim py4j round trips for the literals
    # alone (~1s driver latency per plan at 16×32); a parsed SQL string is
    # a single call. `repr(float)` round-trips exactly, `d` marks doubles.
    structs = ", ".join(
        "named_struct('sim', aggregate(zip_with({v}, array({vals}), "
        "(x, y) -> x * y), 0d, (acc, v) -> acc + v), 'cid', {i})".format(
            v=vec, vals=", ".join(f"{x!r}d" for x in u), i=i
        )
        for i, u in enumerate(units)
    )
    return F.expr(
        f"transform(slice(reverse(array_sort(array({structs}))), 1, {n_probe}), "
        "s -> s.cid)"
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Centroids = a deterministic pseudo-random pick of corpus vectors (the
    reference's subsample shape,
    ``/root/reference/src/extractor/extract_f0_range.py:177-184``); every
    corpus vector is assigned to its nearest centroid (its inverted list),
    and a query scans only its ``n_probe`` nearest lists. ``n_probe =
    len(centroids)`` degrades gracefully to exact brute force (tests pin
    this). Pass ``centroids`` (from :func:`pick_centroids`) to reuse a
    cached set across calls — repeated invocations then cost zero extra
    jobs; without them the call picks 16.

    Scale shape: the corpus is partitioned by centroid id (at rest:
    partition the table by ``_cid``), a query touches n_probe/n_centroids
    of the data; the only shuffle is the per-query top-k. Centroid pick is
    ONE distributed TakeOrdered job (hash order spreads the picks; no
    count(), no global row_number).
    """
    if centroids is None:
        centroids = pick_centroids(corpus)
    n_probe = min(n_probe, len(centroids))

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("_cv")
    ).withColumn(
        "_cid", F.element_at(_nearest_centroid_cols("_cv", centroids, 1), 1)
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("_qv")
    ).withColumn(
        "_cid",
        F.explode(_nearest_centroid_cols("_qv", centroids, n_probe)),
    )
    j = c.join(maybe_broadcast(q), "_cid").where(F.col("query_id") != F.col("neighbor_id"))
    scored = j.withColumn("_cos", cosine(F.col("_qv"), F.col("_cv")))
    wk = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def pick_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
) -> list[list[float]]:
    """Deterministic pseudo-random centroid pick — ONE distributed
    TakeOrdered job (hash order spreads picks over the corpus). Factored
    out so an index build and later query sessions share one set."""
    picked = (
        corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
        .orderBy(F.xxhash64(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .collect()
    )
    return [list(r["_v"]) for r in picked]


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
) -> None:
    """Materialize the IVF inverted lists AT REST: the corpus is written
    partitioned by nearest-centroid id (``_cid=<i>/`` directories). At
    10^9+ vectors this is the design that makes ANN queries touch
    n_probe/n_centroids of the BYTES, not just the rows: the `_cid`
    filter below prunes whole partition directories at planning time.
    """
    c = corpus.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("embedding")
    ).withColumn("_cid", F.element_at(_nearest_centroid_cols("embedding", centroids, 1), 1))
    c.write.partitionBy("_cid").mode("overwrite").parquet(path)


def cosine_topk_ivf_at_rest(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Query a materialized IVF index with PARTITION PRUNING: queries are
    assigned their n_probe nearest lists, and the corpus scan carries an
    ``IN (probed lists)`` partition filter — only those directories are
    read. Per-query candidate restriction then happens on the (already
    pruned) equi-join, identical semantics to :func:`cosine_topk_ivf`
    with the same centroids.
    """
    n_probe = min(n_probe, len(centroids))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    ).withColumn("_cid", F.explode(_nearest_centroid_cols("_qv", centroids, n_probe)))
    probed = sorted({r["_cid"] for r in q.select("_cid").distinct().collect()})
    c = (
        spark.read.parquet(path)
        .where(F.col("_cid").isin(probed))  # partition-pruned scan
        .select("_cid", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv"))
    )
    j = c.join(maybe_broadcast(q), "_cid").where(F.col("query_id") != F.col("neighbor_id"))
    scored = j.withColumn("_cos", cosine(F.col("_qv"), F.col("_cv")))
    wk = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def embedding_neardup_exact(
    df: DataFrame,
    threshold: float = 0.45,
    max_driver_rows: int = 200_000,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (broadcast self-join verify).

    The exact primitive: all (a, b) with a < b and cosine ≥ threshold. At
    scale this is the *verify* stage run on candidate pairs only; as a
    standalone query it broadcasts the smaller projection (id, vec) and
    scans the corpus once. Use :func:`embedding_neardup_pairs` (LSH
    blocking) when the corpus is too large for the O(n²) verify.

    Each corpus partition multiplies its normalized block against the
    broadcast normalized matrix with one BLAS matmul inside
    ``mapInPandas``. The broadcast matrix is built on the driver, so this
    path is gated by ``max_driver_rows`` — it is a small-corpus VERIFY
    primitive, not the scale path. For the distributed exact all-pairs
    plan (no driver materialization at any size) use
    :func:`embedding_neardup_blocked`.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    n = df.count()
    assert n <= max_driver_rows, (
        f"embedding_neardup_exact materializes the corpus on the driver: "
        f"{n} rows > max_driver_rows={max_driver_rows}. "
        "Use embedding_neardup_blocked (distributed block matmul) instead."
    )
    id_dt = df.schema["vec_id"].dataType.simpleString()
    rows = df.select("vec_id", F.col("embedding").cast("array<double>")).collect()
    # id dtype follows the input schema (object for strings/decimals)
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = np.inf  # zero vectors match nothing
    unit = mat / norms
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_unit = spark.sparkContext.broadcast(unit)
    thr = float(threshold)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_unit = b_ids.value, b_unit.value
        for pdf in batches:
            block = np.array(list(pdf["_v"]), dtype=np.float64)
            bn = np.linalg.norm(block, axis=1, keepdims=True)
            bn[bn == 0] = np.inf
            block = block / bn
            sims = block @ all_unit.T  # (batch, corpus)
            bi, ci = np.nonzero(sims >= thr)
            lid = pdf["_id"].to_numpy()[bi]
            rid = all_ids[ci]
            keep = lid < rid
            yield pd.DataFrame(
                {
                    "id_a": lid[keep],
                    "id_b": rid[keep],
                    "cos_sim": np.round(sims[bi, ci][keep], 6),
                }
            )

    return df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    ).mapInPandas(kernel, schema=f"id_a {id_dt}, id_b {id_dt}, cos_sim double")


def embedding_neardup_blocked(
    df: DataFrame,
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """Distributed EXACT all-pairs cosine near-dup — block-matrix self-join.

    The classic block matmul: hash-assign every vector to one of
    ``n_blocks`` blocks, pack each block into one fat row (ids array +
    matrix), pair blocks with ``blk_a <= blk_b`` (B(B+1)/2 tasks), and run
    one BLAS matmul per block pair inside ``mapInPandas``. Nothing ever
    touches the driver — the exact O(n²) work is spread over block-pair
    tasks, and shuffle volume is O(n·d·B) (each block replicated B times),
    tunable against task memory.

    Same output contract as :func:`embedding_neardup_exact`:
    (id_a, id_b, cos_sim) with id_a < id_b, cos ≥ threshold; zero-norm
    vectors match nothing. Tests pin frame equality between the two.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    id_dt = df.schema["vec_id"].dataType.simpleString()
    src = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    ).withColumn(
        "_blk",
        F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(n_blocks)).cast("int"),
    )

    pack_schema = f"_blk int, _ids array<{id_dt}>, _vecs array<array<double>>"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "_blk": [int(pdf["_blk"].iloc[0])],
                "_ids": [list(pdf["_id"])],
                "_vecs": [[list(v) for v in pdf["_v"]]],
            }
        )

    blocks = src.groupBy("_blk").applyInPandas(pack, schema=pack_schema)
    a = blocks.select(
        F.col("_blk").alias("_ba"), F.col("_ids").alias("_ia"), F.col("_vecs").alias("_va")
    )
    b = blocks.select(
        F.col("_blk").alias("_bb"), F.col("_ids").alias("_ib"), F.col("_vecs").alias("_vb")
    )
    # B rows × B rows — a tiny-row-count join; the payload is the fat part
    pairs = a.join(b, F.col("_ba") <= F.col("_bb"))
    thr = float(threshold)

    def _unit(vecs) -> "np.ndarray":
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0] = np.inf
        return m / nrm

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # name=None: underscore-leading column names would otherwise
            # be positionally renamed by itertuples
            for ba, ids_a, vecs_a, bb, ids_b, vecs_b in pdf[
                ["_ba", "_ia", "_va", "_bb", "_ib", "_vb"]
            ].itertuples(index=False, name=None):
                ua, ub = _unit(vecs_a), _unit(vecs_b)
                ia = np.array(list(ids_a))
                ib = np.array(list(ids_b))
                sims = ua @ ub.T
                xi, yi = np.nonzero(sims >= thr)
                if len(xi) == 0:
                    continue
                lid, rid = ia[xi], ib[yi]
                if ba == bb:
                    keep = lid < rid  # upper triangle within a block
                else:
                    keep = lid != rid  # cross-block: canonicalize below
                lid, rid, s = lid[keep], rid[keep], sims[xi, yi][keep]
                swap = lid > rid
                lo = np.where(swap, rid, lid)
                hi = np.where(swap, lid, rid)
                yield pd.DataFrame(
                    {"id_a": lo, "id_b": hi, "cos_sim": np.round(s, 6)}
                )

    out_schema = f"id_a {id_dt}, id_b {id_dt}, cos_sim double"
    return pairs.mapInPandas(kernel, schema=out_schema)


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing +
    vectorized verify.

    Candidate generation: one random-hyperplane code (:func:`lsh_bucket`)
    — a pair is verified if it collides, so recall is ``p^planes`` with
    ``p = 1 - θ/π``; fewer planes for low thresholds, more planes for
    tight near-dup thresholds. Verify: one ``applyInPandas`` per bucket —
    L2-normalize the bucket's matrix once and take the blocked
    upper-triangle matmul (BLAS), ~100× the throughput of per-pair
    interpreted array expressions; 4096-row blocks cap the in-memory score
    block so a hot bucket degrades to more blocks, not more memory.
    A final groupBy canonicalizes the pairs. Zero-norm
    vectors never pass a positive threshold (same contract as
    :func:`cosine`'s NULL).

    Scale shape: bucket count grows with the corpus (callers scale
    ``n_planes`` ~ log2(n / target_bucket)), so per-bucket work is
    constant and total candidate pairs grow linearly — the O(n²) of the
    exact path never materializes.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    v = df.select(
        F.col("vec_id").alias("_id"), F.col("embedding").cast("array<double>").alias("_v")
    )
    bucketed = v.withColumn("_band", F.lit(0)).withColumn("_bkt", lsh_bucket("_v", dim, n_planes))

    id_dt = df.schema["vec_id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_dt),
            StructField("id_b", id_dt),
            StructField("cos_sim", DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        g = np.array([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        norms = np.sqrt((g * g).sum(axis=1))
        g = g / np.where(norms == 0.0, 1.0, norms)[:, None]
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, n, 4096):
            gi = g[i0 : i0 + 4096]
            for j0 in range(i0, n, 4096):
                s = gi @ g[j0 : j0 + 4096].T
                ii, jj = np.nonzero(s >= threshold)
                keep = (ii + i0) < (jj + j0)  # strict upper triangle
                if not keep.any():
                    continue
                out_a.append(ids[ii[keep] + i0])
                out_b.append(ids[jj[keep] + j0])
                out_s.append(s[ii[keep], jj[keep]])
        if not out_a:
            return empty
        a = np.concatenate(out_a)
        b = np.concatenate(out_b)
        sim = np.concatenate(out_s)
        # canonical orientation: id_a < id_b regardless of bucket order
        flip = a > b
        a2 = np.where(flip, b, a)
        b2 = np.where(flip, a, b)
        return pd.DataFrame({"id_a": a2, "id_b": b2, "cos_sim": sim})

    pairs = bucketed.groupBy("_band", "_bkt").applyInPandas(_verify, out_schema)
    return pairs.groupBy("id_a", "id_b").agg(
        F.round(F.min("cos_sim"), 6).alias("cos_sim")
    )


def label_centroids(corpus: DataFrame) -> DataFrame:
    """Per-label mean embedding, fully distributed: ``posexplode →
    groupBy(label, dim).avg`` (map-side partial sums — each task ships
    labels×dim partials, never corpus rows), then the dim rows fold back
    into one ``array<double>`` per label (``collect_list`` is dim-sized
    per group, bounded by construction). Nothing lands on the driver, so
    the label space may be arbitrarily large (e.g. dedup-cluster ids).
    Each centroid is unit-normalized (cosine convention; zero vectors stay
    zero)."""
    d = corpus.select(
        F.col("label").alias("_lbl"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    cent = (
        d.select("_lbl", F.posexplode("_v").alias("_dim", "_x"))
        .groupBy("_lbl", "_dim")
        .agg(F.avg("_x").alias("_m"))
        .groupBy("_lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_dim", "_m"))),
                lambda s: s["_m"],
            ).alias("_c")
        )
    )
    n = l2norm(F.col("_c"))
    return cent.select(
        "_lbl",
        F.when(n != 0.0, F.transform("_c", lambda x: x / n)).otherwise(F.col("_c")).alias("_c"),
    )


def embedding_label_outliers(
    corpus: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Semantic-outlier / mislabel scoring: cosine similarity of every
    vector to its OWN ``label``'s centroid; rows under ``threshold`` flag as
    outliers (the standard embedding-space curation gate — drop or
    re-review points far from their cluster).

    Two passes over the corpus (centroid aggregation + scoring join) and
    the join side is one row per label — broadcast-gated, so the fact
    table never shuffles when the label space fits, and AQE picks the
    strategy when it doesn't. Zero-norm vectors (or labels whose centroid
    is zero) get NULL similarity and flag as outliers.

    NOTE: because both passes read ``corpus``, a corpus that is itself an
    expensive derived plan (not a table scan) executes twice — persist it
    first (persisting is the caller's call: at full scale the input is a
    scan and pinning it would be harmful).
    """
    cents = label_centroids(corpus)
    scored = corpus.join(
        maybe_broadcast(cents), F.col("label") == F.col("_lbl"), "left"
    )
    sim = cosine(F.col("embedding").cast("array<double>"), F.col("_c"))
    return scored.select(
        "vec_id",
        "label",
        sim.alias("cos_centroid"),
        F.coalesce(sim < F.lit(float(threshold)), F.lit(True)).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ): ANN over compressed codes
# ---------------------------------------------------------------------------
#
# At 10^9+ vectors the IVF partition pruning above still reads FULL vectors
# (dim doubles per candidate). Product quantization (Jégou et al. 2011, the
# Faiss IVF-PQ design) stores each vector as m small codes instead: the
# dimension splits into m subspaces, each subspace gets its own k-entry
# codebook (L2 Lloyd over sub-vectors), and a vector is the tuple of its m
# nearest sub-centroid ids. A query precomputes ONE lookup table of
# (sub-query · sub-centroid) partial products — m·k numbers — and scoring a
# candidate is m table lookups + adds instead of a dim-length dot product,
# over an at-rest representation dim/m·(64/ceil(log2 k)) × smaller.
#
# Everything is Column algebra: codebooks ride the plan as parsed SQL
# literals (same single-F.expr trick as _nearest_centroid_cols — one parse,
# no per-literal py4j round trips), encoding/LUT/scoring are HOF
# expressions, and the optional exact re-rank joins the shortlist back to
# the full vectors so the returned cos_sim is TRUE cosine.


def _dot_sql(a: str, b_vals: list[float]) -> str:
    vals = ", ".join(f"{x!r}d" for x in b_vals)
    return f"aggregate(zip_with({a}, array({vals}), (x, y) -> x * y), 0d, (a, v) -> a + v)"


def _unit_vec(vec: str) -> Column:
    """Unit-normalized copy of an array<double> column (zero vectors pass
    through unchanged — they score 0 everywhere, same contract as
    :func:`cosine`'s NULL)."""
    nrm = f"sqrt(aggregate({vec}, 0d, (a, v) -> a + v * v))"
    return F.expr(
        f"CASE WHEN {nrm} = 0d THEN {vec} "
        f"ELSE transform({vec}, x -> x / {nrm}) END"
    )


def _pq_code_sql(vec: str, codebook: list[list[float]], off: int, ln: int) -> str:
    """SQL for the L2-nearest sub-centroid id of slice(vec, off, ln):
    argmin |x-c|^2 = argmax (2 c·x - |c|^2) — the |x|^2 term is constant
    across candidates."""
    sub = f"slice({vec}, {off}, {ln})"
    structs = ", ".join(
        "named_struct('s', 2d * {dot} - {nrm!r}d, 'cid', {i})".format(
            dot=_dot_sql(sub, c), nrm=sum(x * x for x in c), i=i
        )
        for i, c in enumerate(codebook)
    )
    return f"element_at(reverse(array_sort(array({structs}))), 1).cid"


def _unit_rows(centroids: list[list[float]]) -> list[list[float]]:
    out = []
    for c in centroids:
        n = sum(x * x for x in c) ** 0.5 or 1.0
        out.append([float(x) / n for x in c])
    return out


def _centroid_matrix_sql(centroids: list[list[float]]) -> str:
    """SQL literal array<array<double>> of UNIT-normalized centroids —
    indexed by ``element_at(…, _cid + 1)`` for per-row anchor lookups."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x!r}d" for x in c) + ")"
            for c in _unit_rows(centroids)
        )
        + ")"
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    pq_k: int = 16,
    n_iter: int = 3,
    residual_of: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks (m × pq_k × dim/m): deterministic
    hash-pick init, then ``n_iter`` L2 Lloyd rounds per subspace. Each
    round is one partial/final aggregate whose shuffle carries pq_k ×
    sublen partial sums per task — never corpus rows; the driver only
    holds the codebook matrices. It trains on unit vectors (cosine
    convention, as :func:`pq_encode` encodes).

    ``residual_of``: train on RESIDUALS ``x − c(x)`` against these coarse
    centroids (Jégou et al.'s IVFADC): residual vectors are far more
    concentrated than raw ones, so the same (m, pq_k) budget quantizes
    with less error — use with ``cosine_topk_ivfpq(residual=True)``."""
    dim = len(
        corpus.select(F.col("embedding").cast("array<double>").alias("_v"))
        .limit(1)
        .collect()[0]["_v"]
    )
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ln = dim // m
    base = corpus.select(
        F.col("vec_id").alias("_id"), F.col("embedding").cast("array<double>").alias("_v")
    )
    base = base.withColumn("_v", _unit_vec("_v"))
    if residual_of is not None:
        cm = _centroid_matrix_sql(residual_of)
        base = base.withColumn(
            "_rcid", F.element_at(_nearest_centroid_cols("_v", residual_of, 1), 1)
        ).withColumn(
            "_v",
            F.expr(f"zip_with(_v, element_at({cm}, _rcid + 1), (a, b) -> a - b)"),
        )
    base = base.persist()
    try:
        books: list[list[list[float]]] = []
        for j in range(int(m)):
            off = j * ln + 1
            sub = base.select(
                "_id", F.expr(f"slice(_v, {off}, {ln})").alias("_s")
            )
            cents = [
                list(r["_s"])
                for r in sub.orderBy(
                    F.xxhash64(F.col("_id").cast("string"), F.lit(j)), F.col("_id")
                )
                .limit(int(pq_k))
                .collect()
            ]
            for _ in range(max(int(n_iter), 0)):
                rows = (
                    sub.withColumn(
                        "_c", F.expr(_pq_code_sql("_s", cents, 1, ln))
                    )
                    .select("_c", F.posexplode("_s").alias("_dim", "_x"))
                    .groupBy("_c", "_dim")
                    .agg(F.avg("_x").alias("_mu"))
                    .collect()  # pq_k × sublen rows
                )
                means: dict[int, list[float]] = {}
                for r in rows:
                    means.setdefault(r["_c"], [0.0] * ln)[r["_dim"]] = r["_mu"]
                cents = [means.get(i, old) for i, old in enumerate(cents)]
            books.append(cents)
        return books
    finally:
        base.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(vec_id, codes) — each unit vector compressed to its m sub-centroid ids
    (array<int>). This is the at-rest ANN representation: for dim=64
    doubles → 8 ints, a 16× shrink before bit-packing. One map-only
    projection, no shuffle."""
    ln = len(codebooks[0][0])
    out = df.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v"))
    out = out.withColumn("_v", _unit_vec("_v"))
    code_exprs = ", ".join(
        _pq_code_sql("_v", cb, j * ln + 1, ln) for j, cb in enumerate(codebooks)
    )
    return out.select("vec_id", F.expr(f"array({code_exprs})").alias("codes"))


def _pq_lut_sql(vec: str, codebooks: list[list[list[float]]]) -> str:
    """SQL for the query-side lookup table: flat array<double> of
    (sub-query · sub-centroid) for every (subspace j, code c), indexed
    j·pq_k + c. Computed ONCE per query row; scoring a candidate is then
    m lookups instead of a dim-length dot product."""
    ln = len(codebooks[0][0])
    cells = []
    for j, cb in enumerate(codebooks):
        sub = f"slice({vec}, {j * ln + 1}, {ln})"
        cells.extend(_dot_sql(sub, c) for c in cb)
    return f"array({', '.join(cells)})"


def cosine_topk_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    pq_k: int = 16,
    refine_factor: int | None = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via IVF coarse lists + PQ-compressed
    scoring: candidates come from the query's ``n_probe`` nearest inverted
    lists (same coarse quantizer as :func:`cosine_topk_ivf`), but are
    scored from their m-code PQ representation through the query's lookup
    table — the corpus side of the join carries CODES, not vectors.
    With ``refine_factor`` the approx top k·refine shortlist re-ranks
    against the true vectors (one semi-join back to the corpus), so the
    emitted ``cos_sim`` is exact cosine and only the CANDIDATE SET is
    approximate; ``refine_factor=None`` skips the re-rank and emits the
    (rounded) PQ score as ``cos_sim``.

    ``residual=True`` is IVFADC (Jégou et al. 2011): codes quantize the
    residual ``x_unit − c(x)`` instead of the raw direction, and scoring
    decomposes as ``q·x ≈ q·c(list) + Σ lut[codes]`` — the anchor term
    ``q·c`` costs one lookup per (query, probed list), the codebook LUT
    is unchanged, and residuals concentrate so the same (m, pq_k) budget
    quantizes with visibly less error. Codebooks must then be trained
    with ``pq_train(residual_of=centroids)`` (done automatically when
    ``codebooks`` is None). Measured caveat: the gain needs CLUSTERED
    data — on this repo's near-uniform synthetic embeddings the coarse
    centroids barely concentrate residuals and raw mode measured HIGHER
    recall (raw p2_r8 0.40–0.44 vs residual 0.24–0.32 across SFs), so
    the driver query ships raw mode; both modes are numpy-verified
    exact in their scoring identity. The clustered regime is pinned the
    other way by ``tests/test_similarity.py::
    test_ivfpq_residual_beats_raw_on_clustered_corpus`` (8 tight
    Gaussian clusters: residual reconstructs true cosine ~3x more
    accurately at the same budget), so the mode choice is
    evidence-based in both directions.

    Scale shape: at-rest candidates are m ints per vector (16×+ smaller
    scans), per-candidate scoring is m lookups (LUT computed once per
    query), the shortlist re-rank touches k·refine vectors per query. Pass
    ``centroids``/``codebooks`` to reuse a trained index across calls."""
    if centroids is None:
        centroids = pick_centroids(corpus, n_centroids)
    if codebooks is None:
        codebooks = pq_train(
            corpus,
            m=m,
            pq_k=pq_k,
            residual_of=centroids if residual else None,
        )
    n_probe = min(n_probe, len(centroids))
    pq_k = len(codebooks[0])

    # ONE map-only projection produces both the coarse list id and the PQ
    # codes, then drops the vectors — no corpus-side join, no shuffle
    ln = len(codebooks[0][0])
    cm = _centroid_matrix_sql(centroids)
    code_exprs = ", ".join(
        _pq_code_sql("_cu", cb, j * ln + 1, ln) for j, cb in enumerate(codebooks)
    )
    cvec = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    )
    cand = cvec.withColumn(
        "_cid", F.element_at(_nearest_centroid_cols("_cv", centroids, 1), 1)
    ).withColumn("_cu", _unit_vec("_cv"))
    if residual:
        cand = cand.withColumn(
            "_cu",
            F.expr(f"zip_with(_cu, element_at({cm}, _cid + 1), (a, b) -> a - b)"),
        )
    cand = cand.select(
        "neighbor_id", "_cid", F.expr(f"array({code_exprs})").alias("codes")
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("_qv"),
        )
        .withColumn("_qu", _unit_vec("_qv"))
        .withColumn("_lut", F.expr(_pq_lut_sql("_qu", codebooks)))
        .withColumn("_cid", F.explode(_nearest_centroid_cols("_qv", centroids, n_probe)))
        .drop("_qv")
    )
    if residual:
        # anchor term q·c(list): the centroid dot per (query, probed list)
        anchors = ", ".join(_dot_sql("_qu", c) for c in _unit_rows(centroids))
        q = q.withColumn(
            "_anchor", F.expr(f"element_at(array({anchors}), _cid + 1)")
        )
    else:
        q = q.withColumn("_anchor", F.lit(0.0))
    scored = (
        cand.join(maybe_broadcast(q), "_cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_approx",
            F.col("_anchor")
            + F.expr(
                f"aggregate(transform(codes, (c, j) -> "
                f"element_at(_lut, j * {pq_k} + c + 1)), 0d, (a, v) -> a + v)"
            ),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("_approx").desc(), F.col("neighbor_id").asc()
    )
    if refine_factor is None:
        return (
            scored.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", F.round("_approx", 6).alias("cos_sim"))
        )
    short = (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= int(k) * int(refine_factor))
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    exact = (
        short.join(cvec, "neighbor_id")
        .join(maybe_broadcast(qv), "query_id")
        .withColumn("_cos", cosine(F.col("_qv"), F.col("_cv")))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_cos", 6).alias("cos_sim"))
    )


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
) -> None:
    """Fold NEW vectors into an existing at-rest IVF index WITHOUT a
    rebuild: the batch is assigned to lists with the SAME frozen
    centroids the index was built with and appended as new files inside
    the touched ``_cid=`` directories. IO ∝ the batch, untouched lists
    keep their files byte-for-byte; queries see old + new vectors through the
    identical partition-pruned scan (tests pin parity vs a full rebuild).
    Centroids must be the index's own — re-trained centroids change the
    assignment function and require a rebuild, exactly like IVF libraries
    at rest (FAISS's add vs train split — public API semantics)."""
    c = new_vectors.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("embedding")
    ).withColumn("_cid", F.element_at(_nearest_centroid_cols("embedding", centroids, 1), 1))
    c.write.partitionBy("_cid").mode("append").parquet(path)
