"""Deduplication operators for training-data pipelines.

Beyond the reference's scope (it dedups nothing), but first-class for the
100 TB use case: exact, n-gram Jaccard, MinHash+LSH, SimHash. All pure
DataFrame ops — tokenize/shingle with built-ins, candidate generation via
equi-joins on shingle/band/bucket keys (never an O(n²) cross join), exact
verification only on candidate pairs.

Scale notes:
- exact dedup groups on ``(md5(text), length)`` (collision-safe at 10^9+
  docs) not the text itself — the shuffle carries hashes, payload joins
  back after the winner is known.
- shingle joins explode ~L shingles/doc; the join key is the shingle hash
  (long). Hot shingles (stop-phrases) are capped via a document-frequency
  filter — the classic LSH "ban frequent shingles" move — bounding join
  fan-out at web scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.plans.cache import tracked_persist
from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

# Mersenne prime 2^61-1: modulus for the universal-hash family used by
# minhash (a*x+b mod p); constants are small odd numbers → reproducible.
_P = (1 << 61) - 1


def tokenize(text: Column) -> Column:
    """Lowercased whitespace tokenization (engine-wide convention)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_shingles(tokens: Column, w: int = 3) -> Column:
    """Array of w-word shingles (space-joined).

    Built by zipping ``w`` shifted slices of the token array and joining
    each tuple — ``w`` whole-array slices + one zip, with only a cheap
    ``concat_ws`` per element. The obvious per-element
    ``slice(tokens, i, w)`` lambda costs ~6× more: higher-order-function
    lambdas are interpreted, so per-element array allocation dominates.
    """
    n = F.size(tokens)
    m = n - (w - 1)
    z = F.arrays_zip(*[F.slice(tokens, i + 1, m) for i in range(w)])
    joined = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(w)]))
    return F.when(n < w, F.array(F.array_join(tokens, " "))).otherwise(joined)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.

    Group key = (md5, length) — 128+ bits. A 64-bit key alone is not
    collision-safe at the 10^9-document scale (birthday bound ≈ 50% at
    4·10^9 keys) and a collision would silently DELETE a distinct
    document; 128-bit collisions are ~2^-64 even at that scale.
    """
    winners = (
        df.select(
            F.md5(F.col("text")).alias("_h"),
            F.length("text").alias("_hl"),
            F.col("doc_id"),
        )
        .groupBy("_h", "_hl")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return df.join(winners.select("doc_id"), "doc_id", "left_semi")


def _shingle_table(
    df: DataFrame,
    w: int,
    max_doc_freq: int | float | None = None,
    distinct: bool = True,
    freq_floor: int = 10,
) -> DataFrame:
    """(id, shingle_hash) pairs, distinct, optionally df-capped.

    ``distinct=False`` skips the dedup shuffle — correct for consumers
    that are duplicate-invariant (MinHash signatures: min over a multiset
    equals min over its set).

    ``max_doc_freq`` as a FLOAT in (0, 1) is a corpus FRACTION: the cap
    resolves to ``greatest(floor(frac · n_docs), freq_floor)`` INSIDE the
    plan (one-row aggregate, broadcast into the hot-shingle filter) — no
    driver-side ``count()`` job just to size the threshold.
    """
    sh = df.select(
        F.col("doc_id"),
        F.explode(word_shingles(tokenize(F.col("text")), w)).alias("_sh"),
    ).select("doc_id", F.xxhash64("_sh").alias("shingle"))
    if distinct:
        sh = sh.distinct()
    if max_doc_freq is not None:
        assert distinct, "doc-frequency cap counts one row per (doc, shingle)"
        counts = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        if isinstance(max_doc_freq, float):
            assert 0.0 < max_doc_freq < 1.0, "fractional cap must be in (0, 1)"
            cap = df.agg(
                F.greatest(
                    F.floor(F.count("*") * F.lit(max_doc_freq)),
                    F.lit(freq_floor).cast("long"),
                ).alias("_cap")
            )
            hot = (
                counts.crossJoin(F.broadcast(cap))
                .where(F.col("_df") > F.col("_cap"))
                .select("shingle")
            )
        else:
            hot = counts.where(F.col("_df") > max_doc_freq).select("shingle")
        # the hot-shingle set scales with the corpus (more docs -> more
        # shingles over the cap) — broadcast only while Catalyst's size
        # estimate says it is small; AQE decides at scale
        sh = sh.join(maybe_broadcast(hot), "shingle", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    w: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | float | None = None,
) -> DataFrame:
    """Near-dup pairs by exact w-shingle Jaccard ≥ threshold.

    PPJoin-style prefix filtering (Bayardo/Xiao set-similarity join, as
    in Chaudhuri et al. — public literature): under a global canonical
    shingle order (sorted hashes), any pair with J ≥ t must share a
    shingle inside BOTH docs' first ``n − ⌈t·n⌉ + 1`` shingles — overlap
    ``i ≥ t·max(|A|,|B|)`` follows from J ≥ t, and a doc disjoint from a
    partner on its whole prefix has at most ``⌈t·n⌉ − 1 < t·n`` matches
    left. So the equi-join runs on PREFIX shingles only (~(1−t)·n per
    doc — at t=0.8 a 5× candidate cut), lossless by the bound. Verify =
    exact intersection of the packed per-doc shingle-set arrays (one
    array row per doc, never an exploded re-join). Output
    (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = _shingle_table(df, w, max_doc_freq)
    # one row per doc: sorted shingle-set array + its prefix. Persisted:
    # both prefix-join sides and both verify sides read it.
    doc = (
        sh.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("shingle")).alias("_set"))
        .withColumn("_n", F.size("_set"))
        .withColumn(
            "_pfx",
            # ceil(t·n) with an epsilon guard: float t·n can land a hair
            # ABOVE the true product (0.8·5 → 4.000000000000001), and an
            # over-rounded ceil shortens the prefix — the unsafe
            # direction (longer prefixes are merely conservative)
            F.slice(
                "_set",
                1,
                F.col("_n")
                - F.ceil(F.lit(float(threshold)) * F.col("_n") - F.lit(1e-9)).cast("int")
                + 1,
            ),
        )
    )
    doc = tracked_persist(doc)
    a = doc.select(
        F.col("doc_id").alias("id_a"),
        F.col("_n").alias("_na"),
        F.explode("_pfx").alias("shingle"),
    )
    b = doc.select(
        F.col("doc_id").alias("id_b"),
        F.col("_n").alias("_nb"),
        F.explode("_pfx").alias("shingle"),
    )
    # length filter (lossless): J >= t forces |A∩B| >= t·max(|A|,|B|),
    # and the intersection is bounded by min(|A|,|B|) — so sizes must be
    # within factor t of each other. Rejecting incompatible sizes at the
    # equi-join kills the quadratic fan-out of a merely-shared shingle
    # between a tweet and a book before the distinct shuffle sees it.
    cand = (
        a.join(
            b,
            (a["shingle"] == b["shingle"])
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("_na") * F.lit(float(threshold)) <= F.col("_nb") + F.lit(1e-9))
            & (F.col("_nb") * F.lit(float(threshold)) <= F.col("_na") + F.lit(1e-9)),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # doc has ONE ROW PER DOCUMENT — unbroadcastable at 10^9 docs. The
    # hint is gated on the optimizer's size estimate (maybe_broadcast):
    # static broadcast while provably small, AQE/shuffle join at scale.
    j = (
        cand.join(
            maybe_broadcast(doc.select(F.col("doc_id").alias("id_a"), F.col("_set").alias("_sa"))),
            "id_a",
        )
        .join(
            maybe_broadcast(doc.select(F.col("doc_id").alias("id_b"), F.col("_set").alias("_sb"))),
            "id_b",
        )
        .withColumn("_i", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard", F.col("_i") / (F.size("_sa") + F.size("_sb") - F.col("_i"))
        )
        .where(F.col("jaccard") >= threshold)
    )
    return j.select("id_a", "id_b", "jaccard")


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Signature aggregation over an existing (id, shingle) table."""
    rnd = __import__("random").Random(42)
    coeffs = [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]
    # fold hash into [0, p) first so a*x+b stays within long-safe range via
    # pmod arithmetic (python ints in literals are exact; Spark longs may
    # overflow → compute in the (a*(x%p))%p decomposition with doubles
    # avoided: use (a%p)*(x%p) staying < 2^122 — NOT long-safe. Instead use
    # two-step mod with smaller 31-bit multipliers: collisions are
    # irrelevant at minhash precision.
    # the folded shingle is shared by all num_hashes aggregates: project it
    # ONCE (codegen CSE does not span aggregate expressions). Each agg is
    # ONE F.expr string, not a chain of Column operators — building
    # num_hashes × ~7 Column ops costs a py4j round trip each (~1s of
    # driver latency per plan); a parsed SQL string is a single call.
    sh = sh.withColumn("_x", F.pmod(F.col("shingle"), F.lit(2147483647)))
    aggs = []
    for i, (ai, bi) in enumerate(coeffs):
        a31, b31 = ai % 2147483647, bi % 2147483647
        # _x < 2^31 and a31 < 2^31 keep the product below 2^62: exact int64
        aggs.append(F.expr(f"min((_x * {a31} + {b31}) % {_P}) AS _m{i}"))
    g = sh.groupBy("doc_id").agg(*aggs)
    return g.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("signature")
    )


def _band_table(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, band_hash) rows: one xxhash64 per signature slice."""
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice("signature", b * r + 1, r)).alias("bh"),
                ),
            )
        ).alias("_b"),
    ).select("doc_id", "_b.band", "_b.bh")


def _doc_sets(sh: DataFrame) -> DataFrame:
    """One row per doc: sorted array of distinct shingle hashes."""
    return sh.groupBy("doc_id").agg(F.array_sort(F.collect_set("shingle")).alias("_set"))


def minhash_lsh_pairs(
    df: DataFrame,
    w: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash → band buckets → candidate pairs → exact-Jaccard verify.

    Classic (b, r) LSH: b bands of r = num_hashes/b rows; docs colliding in
    any band become candidates (equi-join on (band, band_hash)), then exact
    shingle Jaccard confirms ≥ threshold. Only candidates pay the verify.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # one materialized shingle table feeds both the signature aggregation
    # and the exact-Jaccard verify (otherwise each branch re-tokenizes and
    # re-explodes the corpus). NON-distinct: minhash is duplicate-invariant
    # and the verify below dedups via collect_set, so the explicit
    # distinct shuffle would be pure overhead. Lifetime: tracked —
    # long-lived callers release via plans.cache.release_persisted()
    # (bench.py clearCache()s, the big hammer).
    sh = tracked_persist(_shingle_table(df, w, distinct=False))
    # one row per doc (num_hashes longs): persisted because the band
    # self-join below references it on BOTH sides — without the cache the
    # whole signature aggregation (the pipeline's most expensive stage)
    # executes twice
    sig = tracked_persist(_signatures_from_shingles(sh, num_hashes))
    banded = _band_table(sig, bands, r)
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "bh")
    b_ = banded.select(F.col("doc_id").alias("id_b"), "band", "bh")
    cand = (
        a.join(b_, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact verify WITHOUT re-exploding shingles per candidate: pack each
    # doc's (distinct) shingle hashes into ONE sorted array row, join the
    # candidate pairs against that table on both sides, and take the
    # intersection with a vectorized JVM array op. The explode shape
    # (cand ⋈ shingles ⋈ shingles) fans every pair out to ~|doc| rows
    # before the count — an order of magnitude more shuffle for the same
    # answer. The array table carries one row per doc (estimate-gated
    # broadcast; a shuffle join at 10^9 docs still moves each set once,
    # not |doc| times).
    doc_sets = _doc_sets(sh)
    j = cand.join(
        maybe_broadcast(doc_sets.select(F.col("doc_id").alias("id_a"), F.col("_set").alias("_sa"))),
        "id_a",
    ).join(
        maybe_broadcast(doc_sets.select(F.col("doc_id").alias("id_b"), F.col("_set").alias("_sb"))),
        "id_b",
    )
    j = j.withColumn("_i", F.size(F.array_intersect("_sa", "_sb")))
    return (
        j.withColumn(
            "jaccard",
            F.col("_i") / (F.size("_sa") + F.size("_sb") - F.col("_i")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def token_hash_portable(tok: Column) -> Column:
    """62-bit polynomial token hash computable IDENTICALLY in ANSI SQL.

    Two 31-bit polynomial rolling hashes (multipliers 31/131, distinct
    Mersenne-ish moduli) packed as ``h1 * 2^31 + h2``. Every step stays
    below 2^37, so int64 arithmetic is exact in any engine — this is what
    lets DuckDB oracle the simhash pipeline end-to-end (xxhash64 is the
    faster default for production, same downstream math).
    """

    m1, m2 = 2147483647, 2147483629
    codes = F.transform(
        F.sequence(F.lit(1), F.length(tok)),
        lambda i: F.ascii(tok.substr(i, F.lit(1))).cast("long"),
    )
    # ONE fold carries both 31-bit accumulators packed as a1·2^31 + a2
    # (higher-order functions are interpreted, so a second pass over the
    # characters would double the dominant cost). Unpack/pack via BITWISE
    # shifts — `/` is double division in Spark and loses exactness past
    # 2^53; every intermediate here stays < 2^62, exact in int64.
    folded = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: F.shiftleft(
            (F.shiftright(acc, 31) * 31 + x) % F.lit(m1), 31
        )
        + (acc.bitwiseAND(F.lit((1 << 31) - 1)) * 131 + x) % F.lit(m2),
    )
    # empty token: sequence(1, 0) is DESCENDING [1, 0], not empty —
    # pin the hash to 0 (the SQL side guards the same case)
    return F.when(F.length(tok) == 0, F.lit(0).cast("long")).otherwise(folded)


def portable_mix(h: Column) -> Column:
    """Avalanche finalizer for :func:`token_hash_portable`, SQL-portable.

    The raw polynomial hash never wraps its modulus on short keys (a
    9-digit id is ~31^10 < 2^51 before the first reduction), so its
    ORDER is the key order — fatal for the export ops that use the hash
    as a pseudo-random permutation (shard_shuffle) or a uniform bucket
    (hash_split).  Two multiply-fold rounds over the packed halves fix
    the avalanche; every intermediate stays < 2^63 so int64 arithmetic
    is exact on any engine (mirrored by ``_sql_pmix`` in the oracle).
    Output is uniform in [0, 2^61 - 1).
    """
    P = 2305843009213693951  # 2^61 - 1 (Mersenne)
    mask = (1 << 31) - 1
    h1 = F.shiftright(h, 31)          # poly-1 accumulator, < 2^31
    h2 = h.bitwiseAND(F.lit(mask))    # poly-2 accumulator, < 2^31
    # round 1: h1 drives the high bits, h2 perturbs; < 5.71e18, exact
    r1 = (h1 * F.lit(2654435761) + h2) % F.lit(P)
    a = F.shiftright(r1, 31)          # < 2^30
    b = r1.bitwiseAND(F.lit(mask))    # low bits: already well mixed
    # round 2: b*K wraps P (~2.5 turns) — the actual avalanche; < 8.2e18
    return (a * F.lit(2246822519) + b * F.lit(2654435761)) % F.lit(P)


def simhash(
    df: DataFrame,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """SimHash over token hashes (single explode + one groupBy).

    bit j of the fingerprint = sign of Σ_tokens (±1 by token-hash bit j).
    ``hash_fn``: token-hash column fn — default ``xxhash64`` (64-bit,
    fastest); pass :func:`token_hash_portable` with ``bits=62`` for the
    SQL-reproducible variant the oracle checks.
    """
    hash_fn = hash_fn or (lambda c: F.xxhash64(c))
    tok = df.select(
        F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("_t")
    ).withColumn("_h", hash_fn(F.col("_t")))
    # SWAR bit-plane accumulation: instead of `bits` conditional ±1 sums
    # (one agg buffer + CASE per bit per row), accumulate 32 planes —
    # plane k packs the counts of bits {k, k+32} into two 32-bit lanes
    # of ONE long: sum((h >> k) & 0x0000000100000001). Per row that is
    # 32 shift+mask+adds instead of `bits` CASEs (~2-3× less aggregate
    # work); the per-bit majority vote (2·cnt > n, the exact equivalent
    # of sign(Σ±1)) unpacks lanes AFTER the aggregation, on one row per
    # document. 32-bit lanes put the exactness bound at 2^30 tokens per
    # document (low lane carries at 2^32; the packed int64 total
    # n·(2^32+1) stays < 2^63 up to n ≈ 2^31) — six orders of magnitude
    # past the longest real document, vs the 16-bit-lane variant whose
    # 32767-token cap silently nulled long-doc fingerprints and dropped
    # them from the near-dup join. try_sum + the explicit guard below
    # still null (never crash) beyond the astronomically-remote bound.
    lane_mask = 0x0000000100000001
    max_tokens = 1 << 30
    n_planes = min(32, bits)
    aggs = [F.count("*").alias("_n")]
    for k in range(n_planes):
        plane = F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(lane_mask))
        aggs.append(F.try_sum(plane).alias(f"_p{k}"))
    g = tok.groupBy("doc_id").agg(*aggs)
    # ONE F.expr string for the vote/assembly, not a python loop of
    # Column.bitwiseOR calls: chaining `bits` Columns costs ~8 py4j round
    # trips per bit (~1.5s of driver latency per plan build); a flat SQL
    # sum of disjoint bit terms is a single call and analyzes JVM-side.
    terms = []
    for j in range(bits):
        k, lane = j % 32, j // 32
        cnt = f"(shiftright(_p{k}, {32 * lane}) & 4294967295)"
        terms.append(
            f"(CASE WHEN {cnt} * 2 > _n THEN shiftleft(CAST(1 AS BIGINT), {j}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    fp = F.expr(" + ".join(terms))
    return g.select(
        "doc_id", F.when(F.col("_n") <= max_tokens, fp).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: PARTITION the ``bits`` fingerprint bits into
    (max_hamming+1) chunks (remainder bits spread over the first chunks so
    every bit is covered) — any pair within the radius agrees exactly on
    ≥1 chunk → equi-join per chunk, verify with bit_count(xor). No cross
    join.
    """
    n_chunks = max_hamming + 1
    base_w, extra = divmod(bits, n_chunks)
    offsets, off = [], 0
    for ci in range(n_chunks):
        w = base_w + (1 if ci < extra else 0)
        offsets.append((off, w))
        off += w
    # one row per doc: persisted because the pigeonhole self-join below
    # references the fingerprint table on both sides — without the cache
    # the whole token-explode aggregation executes twice
    s = tracked_persist(simhash(df, bits=bits, hash_fn=hash_fn))
    # static chunk list (shiftright needs a literal bit count)
    chunk_structs = [
        F.struct(
            F.lit(ci).alias("chunk"),
            F.shiftright(F.col("simhash"), o)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias("ch"),
        )
        for ci, (o, w) in enumerate(offsets)
    ]
    chunks = s.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("_c")
    ).select("doc_id", "simhash", "_c.chunk", "_c.ch")
    a = chunks.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_sa"), "chunk", "ch")
    b = chunks.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sb"), "chunk", "ch")
    return (
        a.join(b, ["chunk", "ch"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    w: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: train docs sharing >= ``min_shared``
    distinct w-word shingles with any benchmark doc.

    The standard eval-set contamination sweep (as in the GPT-3 / PaLM
    appendices, public): long shingles (w=8 by default) are specific
    enough that ONE shared shingle is a near-certain copy. Output
    (train_id, bench_id, shared) per contaminated pair.

    Scale shape: both sides reduce to (id, shingle-hash) tables; the
    join key is the 8-byte hash, and the BENCHMARK side is tiny by
    definition (eval sets are thousands of docs, the corpus is billions)
    — the size-gated hint broadcasts it, so the sweep is a map-side join
    over the train shingles with NO shuffle of the corpus. The groupBy
    that counts shared shingles only sees matching rows (rare by
    construction at w=8).
    """
    t = _shingle_table(train, w).withColumnRenamed(
        "doc_id", "train_id"
    )
    b = _shingle_table(bench, w).withColumnRenamed(
        "doc_id", "bench_id"
    )
    hits = (
        t.join(maybe_broadcast(b), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("shared"))  # shingle tables are distinct
        .where(F.col("shared") >= min_shared)
    )
    return hits.select("train_id", "bench_id", "shared")


def positional_windows(
    df: DataFrame, w: int = 8
) -> DataFrame:
    """(id, pos, whash): every w-token window with its 0-based token
    position. Docs shorter than ``w`` produce no rows (a truncated
    window would alias distinct short docs onto one key).

    Same zip-of-shifted-slices build as :func:`word_shingles` (whole-array
    ops, no interpreted per-element slice), plus ``posexplode`` for the
    position — but the window key is a rotate-XOR combine of PER-TOKEN
    xxhash64s, not xxhash64 of the concatenated string: each token is
    hashed once per doc instead of ``w`` times, and the per-window work
    is ``w`` long ops instead of building a ~50-byte string then
    hashing it (the build stays interpreted-HOF-bound either way — the
    long ops shave ~20% and drop the string allocations; a native
    multi-arg ``xxhash64(f0..f7)`` measured slower, and a
    row-wise lead-window variant pays a corpus shuffle+sort for its
    codegen and loses 3×). Position-sensitive (rotation count
    differs per offset, 11·i mod 64 — distinct for i < 64 since
    gcd(11, 64) = 1) and per-pair collision odds stay 2^-64, the same
    birthday exposure any 64-bit window key has.
    """
    toks = tokenize(F.col("text"))
    harr = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)
    m = n - (w - 1)
    z = F.arrays_zip(*[F.slice(harr, i + 1, m) for i in range(w)])

    def _rot(h: Column, r: int) -> Column:
        r = r % 64
        if r == 0:
            return h
        return F.shiftleft(h, r).bitwiseOR(F.shiftrightunsigned(h, 64 - r))

    def _combine(s: Column) -> Column:
        out = s["0"]
        for i in range(1, w):
            out = out.bitwiseXOR(_rot(s[str(i)], 11 * i))
        return out

    hashes = F.transform(z, _combine)
    return (
        df.where(n >= w)
        .select(F.col("doc_id"), F.posexplode(hashes).alias("pos", "whash"))
    )


def duplicated_spans(
    df: DataFrame,
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans — exact substring-level dedup
    (the suffix-array pass of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", recast for Spark).

    A token span of length ≥ w that occurs ≥ ``min_count`` times in the
    corpus makes EVERY one of its w-token windows globally hot, at
    consecutive positions. So: hash all positional windows, keep hot
    ones (global occurrence count ≥ min_count — within-doc repeats
    count, matching "appears more than once in the training data"),
    and merge runs of consecutive hot positions per doc back into
    maximal spans [run_start, run_end + w − 1].

    Output: (id, span_start, span_end, span_tokens), token positions
    0-based inclusive. Feed to a keep-one / cut-spans policy downstream.

    Scale shape: the occurrence count is a map-side-combined groupBy on
    the 8-byte window hash; the hot set joins back size-gated
    (broadcast while small, AQE at scale — hot windows scale with the
    duplicated mass, not the corpus). The only per-doc window runs over
    hit positions (≤ doc length, bounded by the corpus max-doc-tokens
    cap), never the corpus.

    The window table feeds both the count and the join-back, so it is
    persisted (tracked — see ``plans.cache``) rather than built twice; it
    is ~3 longs per token (MEMORY_AND_DISK, spills — the suffix-array
    analog materializes 5× the corpus).
    """
    win = tracked_persist(positional_windows(df, w))
    hot = (
        win.groupBy("whash")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= F.lit(min_count))
        .select("whash")
    )
    hits = win.join(maybe_broadcast(hot), "whash").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w_doc) == 1, F.lit(0)
    ).otherwise(F.lit(1))
    run = F.sum(brk).over(w_doc.rowsBetween(Window.unboundedPreceding, 0))
    return (
        hits.withColumn("_run", run)
        .groupBy("doc_id", "_run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def span_dup_stats(
    df: DataFrame,
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-doc duplicated-span summary: (id, total_tokens, dup_tokens,
    n_spans, dup_ratio). Spans are maximal and non-overlapping by
    construction, so dup_tokens = Σ span_tokens. Docs with no spans get
    zeros — use ``dup_ratio`` as a drop/trim threshold."""
    spans = duplicated_spans(df, w, min_count)
    agg = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens"),
        F.count("*").alias("n_spans"),
    )
    base = df.select(
        F.col("doc_id"), F.size(tokenize(F.col("text"))).alias("total_tokens")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "total_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        (
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("dup_ratio"),
    )


def cut_duplicated_spans(
    df: DataFrame,
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove duplicated spans from the corpus, keeping ONE canonical
    occurrence per distinct span content (the cut policy of Lee et al.
    2022 — every other copy is excised, the first survives).

    Canonical occurrence = min (id, span_start) within each identical
    span content (64-bit content hash; spans whose merged extents differ
    are different contents and keep their own canonicals). Output one
    row per input doc: (input columns but text, clean_text,
    removed_tokens, total_tokens) where ``clean_text`` re-joins the kept
    ORIGINAL tokens with single spaces — matching is case-folded (the
    engine-wide tokenizer) but the surviving text preserves case; only
    inter-token whitespace is canonicalized (exact byte-level
    reconstruction would need offsets the tokenizer drops). Positions
    align between the two splits because both split on ``\\s+``.

    Scale shape: spans scale with the duplicated mass, not the corpus —
    the spans⋈docs hash join (content slice) and the winner
    row_number window run on that small side; the corpus is touched by
    exactly one extra join (cut ranges per doc, size-gated broadcast)
    and a per-token filter HOF bounded by max doc length.
    """
    spans = duplicated_spans(df, w, min_count)
    toks = tokenize(F.col("text"))
    docs_t = df.select(F.col("doc_id"), toks.alias("_tk"))
    sp = (
        spans.join(docs_t, "doc_id")
        .withColumn(
            "_content",
            F.xxhash64(
                F.array_join(
                    F.slice("_tk", F.col("span_start") + 1, F.col("span_tokens")),
                    " ",
                )
            ),
        )
        .drop("_tk", "span_tokens")
    )
    w_k = Window.partitionBy("_content").orderBy("doc_id", "span_start")
    cuts = (
        sp.withColumn("_rk", F.row_number().over(w_k))
        .where(F.col("_rk") > 1)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_cuts")
        )
    )
    rest = [c for c in df.columns if c != "text"]
    orig_toks = F.split(F.trim(F.col("text")), r"\s+")
    base = df.select(*rest, orig_toks.alias("_tk"))
    out = base.join(maybe_broadcast(cuts), "doc_id", "left")
    kept = F.filter(
        "_tk",
        lambda t, i: F.coalesce(
            ~F.exists(
                "_cuts",
                lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
            ),
            F.lit(True),
        ),
    )
    return out.select(
        *rest,
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("_tk") - F.size(kept)).alias("removed_tokens"),
        F.size("_tk").alias("total_tokens"),
    )

