"""Bloom-filter join pruning: shrink a fact-side shuffle to ~the match set.

A semi join of a 100 TB fact table against a selective key set shuffles
the WHOLE fact side before the join discards 99 % of it. The warehouse
answer (Spark's own runtime bloom filter, ORC/Iceberg bloom indexes) is
to test every fact row against a compact bitmap of the key set BEFORE the
shuffle: false positives just ride along to the exact join, so the result
is exact while the shuffle carries only (matches + ε).

This module builds that filter as plain DataFrame algebra — no driver-side
BloomFilter object to serialize, no UDF:

- the key side folds into an ``n_bits``-wide bitmap: each key sets ``k``
  bit positions (``xxhash64`` with distinct seeds), positions fold into
  64-bit words with ``bit_or`` partial aggregation, and the driver
  collects AT MOST ``n_bits/64`` rows (bounded by construction — 2^20
  bits = 16 K longs ≈ 128 KB, independent of key count);
- the fact side cross-joins the one-row bitmap (broadcast — bytes, not
  keys) and keeps rows where all ``k`` probed bits are set. The predicate
  is pure JVM (`element_at` + shifts inside whole-stage codegen).

Spark 3.4+ injects its own runtime bloom filter for some shuffle-join
shapes (``spark.sql.optimizer.runtime.bloomFilter.enabled``); this
operator makes the pattern explicit, composable with any downstream plan
(the prefiltered frame can feed aggregations directly), and usable where
the optimizer's heuristics don't fire (e.g. keys from a computed frame
with no creation-side filter).

False-positive math: p ≈ (1 - e^(-k·n/m))^k for n keys in m bits; the
default (m = 2^20, k = 5) holds p < 1 % out to ~10^5 keys. Size ``n_bits``
to the key-set bound — the bitmap costs m/8 bytes of broadcast whatever
the fact size is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_BITS = 1 << 20
DEFAULT_K = 5


def _hash_pos(cols: list[str], i: int, n_bits: int) -> Column:
    """Bit position i of the composite key: xxhash64 over the key columns
    with a per-probe seed column appended (k independent-enough hashes
    from one family), folded into [0, n_bits)."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols], F.lit(42 + i)), F.lit(int(n_bits))
    ).cast("long")


def key_bitmap_words(
    keys: DataFrame,
    on: str | list[str],
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> list[int]:
    """Fold the key set into bloom-bitmap words (python list, len
    ``n_bits/64``). One distributed pass: explode each key to its k bit
    positions, ``bit_or`` the per-word masks (partial aggregation — the
    shuffle carries at most one row per word per task), collect the
    <= n_bits/64 non-zero words. The collect is bounded by the bitmap
    geometry, never by the key count."""
    if n_bits % 64 != 0 or n_bits <= 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    if int(k) < 1:
        raise ValueError(f"need at least one probe hash, got k={k}")
    on_cols = [on] if isinstance(on, str) else list(on)
    pos = F.explode(
        F.array(*[_hash_pos(on_cols, i, n_bits) for i in range(int(k))])
    ).alias("_pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("_pos") / 64).cast("int").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_m"
            ),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_m"))
        .collect()
    )
    out = [0] * (n_bits // 64)
    for r in words:
        out[r["_w"]] = r["_m"]
    return out


def bloom_prefilter(
    fact: DataFrame,
    keys: DataFrame,
    on: str | list[str],
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of ``fact`` whose key MIGHT be in ``keys`` (superset of the
    exact semi join; false positives only, never false negatives — the
    probe hashes are the same expressions the bitmap was built from).

    The bitmap rides a one-row broadcast cross join (array<bigint>
    column), so the probe is map-side: no shuffle, no literal-bloated
    plan, whole-stage-codegen bit tests.

    ``xxhash64`` is TYPE-sensitive (int 0 and bigint 0 hash differently,
    unlike the equi-join's implicit coercion), so the key side is cast to
    the fact side's column types before the bitmap is built — without the
    cast a dtype mismatch would silently bloom-reject every row."""
    on_cols = [on] if isinstance(on, str) else list(on)
    aligned = keys.select(
        *[F.col(c).cast(fact.schema[c].dataType).alias(c) for c in on_cols]
    )
    words = key_bitmap_words(aligned, on_cols, n_bits=n_bits, k=k)
    spark = fact.sparkSession
    bitmap = spark.createDataFrame([(words,)], "_bloom array<bigint>")
    probed = fact.crossJoin(F.broadcast(bitmap))
    # pyspark's shiftrightunsigned only takes a python-int shift, so the
    # probe goes through the SQL form where the shift is an expression;
    # _bp{i} are plain int columns the expr resolves by name
    pred = None
    for i in range(int(k)):
        probed = probed.withColumn(
            f"_bp{i}", _hash_pos(on_cols, i, n_bits).cast("int")
        )
        test = F.expr(
            f"(shiftrightunsigned(element_at(_bloom, "
            f"CAST(_bp{i} DIV 64 AS INT) + 1), _bp{i} % 64) & 1) = 1"
        )
        pred = test if pred is None else (pred & test)
    return probed.where(pred).drop("_bloom", *[f"_bp{i}" for i in range(int(k))])


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    on: str | list[str],
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """EXACT semi join with a bloom prefilter: identical rows to
    ``fact.join(keys, on, "semi")``, but the shuffle into the exact join
    carries only the bloom survivors (matches + false positives) instead
    of the whole fact side. The exact join scrubs the false positives, so
    correctness never depends on the bitmap."""
    on_cols = [on] if isinstance(on, str) else list(on)
    pre = bloom_prefilter(fact, keys, on_cols, n_bits=n_bits, k=k)
    return pre.join(keys.select(*on_cols).distinct(), on_cols, "semi")
