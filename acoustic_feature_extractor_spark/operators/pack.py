"""Sequence packing: lay documents onto fixed-capacity context windows.

Not in the reference (audio-domain); first-class for the 100 TB training
pipeline: pretraining batches are built by packing documents into
``capacity``-token sequences. Two industry-standard layouts:

- :func:`pack_concat` — GPT-style concat-and-chunk: documents are laid
  end-to-end on a token tape (deterministic order) and sequences are cut
  every ``capacity`` tokens; a document may straddle a cut. Pure window
  cumsum — single shuffle, fully SQL-expressible (DuckDB oracle).
- :func:`pack_greedy` — next-fit without straddling: documents fill a
  sequence until the next one would overflow, then a new sequence starts
  (documents longer than ``capacity`` get a sequence of their own). The
  fill level is a reset-on-overflow recursion — not a prefix sum — so it
  runs as an O(#packs log n) searchsorted loop per bucket inside an
  Arrow-batched ``applyInPandas`` (never per-row Python over documents).

Scale shape: the corpus is hash-bucketed (``xxhash64(id) % 64``, or the
caller's ``bucket`` expression); packing is deterministic and independent
per bucket, so the bucket is the unit of parallelism, resume, and shard
output — no global sort, no driver state. Each bucket's pack ids are
disambiguated by the bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window


def _bucketed(df: DataFrame, id_col: str, bucket: Column | None = None) -> DataFrame:
    # non-negative bucket: pmod, not %, for negative hash values. Callers
    # needing an engine-portable layout (e.g. the DuckDB oracle) pass an
    # explicit bucket expression instead of the xxhash64 default.
    if bucket is None:
        bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(64))
    return df.withColumn("bucket", bucket.cast("long"))


def pack_concat(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    capacity: int = 2048,
    bucket: "Column | None" = None,
) -> DataFrame:
    """Concat-and-chunk packing (documents may straddle sequence cuts).

    Output per document: ``bucket``, ``tape_start`` (token offset on the
    bucket's tape), ``pack_first`` / ``pack_last`` (sequence index where
    the document starts / ends), ``n_pieces`` (how many sequences it is
    split across). One shuffle (the per-bucket order window); everything
    else is column math.
    """
    d = _bucketed(df, id_col, bucket).withColumn(
        "_n", F.col(tokens_col).cast("long")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("tape_start", F.coalesce(F.sum("_n").over(w), F.lit(0)))
    end_incl = F.col("tape_start") + F.col("_n") - 1
    return d.select(
        id_col,
        F.col(tokens_col),
        "bucket",
        "tape_start",
        F.floor(F.col("tape_start") / capacity).alias("pack_first"),
        # zero-token docs occupy no tape: pin them to their start cut
        F.greatest(
            F.floor(end_incl / capacity), F.floor(F.col("tape_start") / capacity)
        ).alias("pack_last"),
    ).withColumn("n_pieces", F.col("pack_last") - F.col("pack_first") + F.lit(1))


def _greedy_fill(ns, capacity: int):
    """Vectorized next-fit over one bucket: O(#packs · log n), not O(n) python.

    ``cs[i]`` = inclusive prefix sum. A pack starting at doc ``i`` has base
    ``cs[i-1]``; it ends before the first ``j`` with ``cs[j] - base >
    capacity`` (that doc starts the next pack). Documents longer than
    ``capacity`` still terminate the scan (their own cs already exceeds
    base+capacity), so they occupy a single-doc overflow pack.
    """
    import numpy as np

    cs = np.cumsum(ns, dtype="int64")
    pack = np.zeros(len(ns), dtype="int64")
    i, p = 0, 0
    while i < len(ns):
        base = cs[i - 1] if i > 0 else 0
        j = int(np.searchsorted(cs, base + capacity, side="right"))
        j = max(j, i + 1)  # an over-capacity doc forms its own pack
        pack[i:j] = p
        p += 1
        i = j
    return pack


def pack_greedy(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    capacity: int = 2048,
    bucket: "Column | None" = None,
) -> DataFrame:
    """Next-fit packing without straddling (one doc never spans two packs).

    Output per document: ``bucket``, ``pack_id`` (within bucket),
    ``pack_pos`` (0-based position inside the pack). Deterministic: docs
    are processed in ``id_col`` order within their hash bucket.
    """
    d = _bucketed(df, id_col, bucket).select(
        "bucket",
        F.col(id_col).cast("long").alias(id_col),
        F.col(tokens_col).cast("long").alias(tokens_col),
    )
    out_schema = StructType(
        [
            StructField("bucket", LongType()),
            StructField(id_col, LongType()),
            StructField(tokens_col, LongType()),
            StructField("pack_id", LongType()),
            StructField("pack_pos", LongType()),
        ]
    )

    def fn(pdf):
        import numpy as np

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        if len(pdf) == 0:
            pdf["pack_id"] = []
            pdf["pack_pos"] = []
            return pdf[["bucket", id_col, tokens_col, "pack_id", "pack_pos"]]
        ns = pdf[tokens_col].to_numpy(dtype="int64")
        pack = _greedy_fill(ns, capacity)
        pdf["pack_id"] = pack
        # position inside the pack: index − first index of this pack id
        starts = np.flatnonzero(np.diff(pack, prepend=pack[0] - 1) != 0)
        first_of = np.repeat(starts, np.diff(np.append(starts, len(pack))))
        pdf["pack_pos"] = np.arange(len(pack)) - first_of
        return pdf[["bucket", id_col, tokens_col, "pack_id", "pack_pos"]]

    return d.groupBy("bucket").applyInPandas(fn, out_schema)


def pack_utilization(
    packed: DataFrame,
    tokens_col: str = "n_tokens",
    capacity: int = 2048,
) -> DataFrame:
    """Per-pack fill report for :func:`pack_greedy` output: token total,
    doc count, utilization fraction (``> 1`` marks an over-capacity doc's
    overflow pack)."""
    return packed.groupBy("bucket", "pack_id").agg(
        F.sum(tokens_col).alias("pack_tokens"),
        F.count("*").alias("n_docs"),
        F.round(F.sum(tokens_col) / F.lit(float(capacity)), 6).alias("utilization"),
    )
