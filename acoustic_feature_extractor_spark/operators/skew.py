"""Skew engine: the one module that knows how to chunk a mega-key.

The reference packs work into duration-balanced buckets to avoid one huge
file starving a worker (``/root/reference/src/extractor/extract_f0_range.py:50-78``).
Our analog: a mega-conversation (10^5+ turns) would put its whole window
partition in one task. We split such keys into chunks of the ORDER column
and keep window semantics EXACT with three primitives, which every chunked
path (here, ``plans/pipeline``, ``asof``, ``temporal``, ``percentiles``,
``sample``) calls:

- :func:`chunk_key`: ``struct(keys..., _chunk)``, the key of chunk-local
  windows and of every summary join. The struct is never NULL and struct
  equality matches NULL fields, so a row with a NULL key or a NULL
  position keeps its summary row (a flat equi-join on ``(key, _chunk)``
  drops it). A NULL chunk id becomes ``NULL_CHUNK``, below every real
  chunk, where the plain window's NULLS FIRST order puts NULL positions.
- :func:`carry_rows` + :func:`keep_own_chunk`, for bounded frames: rows
  near a chunk edge are copied into the neighbour whose frames reach
  them, the window runs per chunk, and only own rows are kept.
- :func:`carry_across_chunks`, for unbounded-preceding state: one summary
  row per chunk, an exclusive prefix over the tiny per-key chunk table,
  joined back on the chunk key (partial/final aggregation, the north_star
  requirement).

All pure Catalyst. Partitioning: a window whose OUTPUT feeds a summary
partitions on ``CHUNK_KEY``, the join key, so the join never reshuffles
the fact side; every other chunk-local window (and the summary groupBy)
partitions on ``(keys..., CHUNK_KEY)``: the same groups, and it reuses a
partitioning the input or the join back already has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

DEFAULT_CHUNK = 8192
CHUNK_KEY = "_ck"
NULL_CHUNK = -(2**63)  # Long.MinValue: sorts before every real chunk id


def profile_entity_sizes(df: DataFrame, key: str = "conv_id") -> DataFrame:
    """Per-entity row counts — the salting decision input (A9 analog)."""
    return df.groupBy(key).agg(F.count("*").alias("n_rows"))


def chunk_key(keys: list[str], chunk: Column) -> Column:
    """The never-NULL chunk key; store it as ``CHUNK_KEY``."""
    return F.struct(
        *[F.col(k) for k in keys],
        F.coalesce(chunk, F.lit(NULL_CHUNK)).alias("_chunk"),
    )


def _key_cols(df: DataFrame) -> list[str]:
    return [f for f in df.schema[CHUNK_KEY].dataType.fieldNames() if f != "_chunk"]


def chunk_window(df: DataFrame) -> WindowSpec:
    """Chunk order within each key of a per-chunk summary that still has
    its key columns. With no key it partitions on a constant: an EXPLICIT
    single partition, which silences the global-window warning so it stays
    a reliable signal. (``pmod(_chunk, 1)``, not ``_chunk * 0`` or
    ``lit(0)``: Catalyst folds those and drops the partition spec.)"""
    chunk = F.col(CHUNK_KEY).getField("_chunk")
    return Window.partitionBy(*(_key_cols(df) or [F.pmod(chunk, F.lit(1))])).orderBy(chunk)


def carry_rows(
    df: DataFrame,
    keys: list[str],
    pos: Column,
    width: int,
    back: int,
    ahead: int = 0,
) -> DataFrame:
    """Bounded-frame salting. Each row lands in chunk ``floor(pos / width)``;
    rows in its last ``back`` positions are also copied into the NEXT chunk
    (its look-back), rows in its first ``ahead`` into the PREVIOUS one (its
    look-ahead), never below chunk 0. A copy reaches only the adjacent
    chunk, so ``width`` must cover the frame; two independent when()s, not
    a first-match chain, so a row near both edges goes both ways. ``pmod``,
    not ``%`` (which takes the dividend's sign): a negative position, e.g.
    a pre-epoch timestamp, must carry too. A NULL position stays alone in
    ``NULL_CHUNK`` (an empty copy array would make the explode DELETE it).
    Adds ``CHUNK_KEY`` and the copy index ``_copy`` (0 = own chunk)."""
    own = F.coalesce(F.floor(pos / F.lit(width)).cast("long"), F.lit(NULL_CHUNK))
    offset_in = F.pmod(pos, F.lit(width))
    copies = [own]
    if ahead:
        copies.append(F.when((offset_in < ahead) & (own > 0), own - 1))
    if back:
        copies.append(F.when(offset_in >= width - back, own + 1))
    return (
        df.select(
            "*",
            F.posexplode(F.array_compact(F.array(*copies))).alias("_copy", "_chunk"),
        )
        .withColumn(CHUNK_KEY, chunk_key(keys, F.col("_chunk")))
        .drop("_chunk")
    )


def keep_own_chunk(df: DataFrame) -> DataFrame:
    """Drop the :func:`carry_rows` copies once their frames are computed;
    the filter keeps the partitioning and order for a later window."""
    return df.where(F.col("_copy") == 0).drop("_copy")


def join_chunk_summary(df: DataFrame, summary: DataFrame) -> DataFrame:
    """Join a per-chunk summary back on ``CHUNK_KEY``. The summary grows
    with the fact table (10^8 rows at 10^12 turns / chunk 8192) and a
    forced hint past the 8 GB ceiling fails the job outright, so the hint
    is estimate-gated: static broadcast while provably small, AQE at
    scale."""
    return df.join(maybe_broadcast(summary), CHUNK_KEY)


def carry_across_chunks(
    df: DataFrame,
    sums: dict[str, Column] | None = None,
    lasts: dict[str, Column] | None = None,
    order: Column | None = None,
    totals: dict[str, Column] | None = None,
) -> DataFrame:
    """Two-phase hand-off across the chunks of a ``CHUNK_KEY`` frame; adds
    one column per entry, and callers combine (``local + offset``,
    ``coalesce(local, carry)``):

    - ``sums`` {out: per-chunk aggregate}: summed over the key's EARLIER
      chunks, 0 when none (a chunk-local cumsum's or rank's offset);
    - ``lasts`` {out: column}: its last non-NULL value by ``order`` in the
      latest earlier chunk that has one (a chunk-local fill's fallback);
    - ``totals`` {out: per-chunk aggregate}: summed over ALL the key's chunks.

    One groupBy, one prefix window over the summary, one join. Given raw
    columns (not window outputs) the summary never re-runs the chunk-local
    window, which can then run after the join on its partitioning."""
    sums, lasts, totals = sums or {}, lasts or {}, totals or {}
    # max_by over the non-NULL rows (it skips NULL orderings), not
    # F.last-in-agg: aggregate last() follows encounter order, which is
    # partition-layout-dependent — nondeterministic across runs.
    summary = df.groupBy(*_key_cols(df), CHUNK_KEY).agg(
        *[a.alias(n) for n, a in {**sums, **totals}.items()],
        *[F.max_by(c, F.when(c.isNotNull(), order)).alias(n) for n, c in lasts.items()],
    )
    w = chunk_window(summary)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    carry = summary.select(
        CHUNK_KEY,
        *[F.coalesce(F.sum(n).over(before), F.lit(0)).alias(n) for n in sums],
        *[F.last(n, ignorenulls=True).over(before).alias(n) for n in lasts],
        *[F.sum(n).over(whole).alias(n) for n in totals],
    )
    return join_chunk_summary(df, carry)


def salted_rolling(
    df: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    agg: str = "avg",
    key: str = "conv_id",
    order: str = "turn_idx",
    out_col: str | None = None,
    chunk_rows: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Rolling aggregate over rowsBetween(lo, hi), salted with carry rows.

    Requires contiguous integer ``order`` per key (the transcripts
    invariant). Each row lands in its own chunk plus — within ``margin``
    of a boundary — the neighbor chunk (:func:`carry_rows`); the window
    runs inside the chunk key; only own rows survive. Result equals the
    unsalted window exactly (tests assert frame-for-frame equality).
    """
    out_col = out_col or f"{value_col}_{agg}"
    margin = max(abs(lo), abs(hi))
    assert chunk_rows >= margin, (
        f"chunk_rows={chunk_rows} must be >= window margin={margin}"
    )
    d = carry_rows(df, [key], F.col(order), chunk_rows, back=margin, ahead=margin)
    w = Window.partitionBy(key, CHUNK_KEY).orderBy(order).rowsBetween(lo, hi)
    agg_col = {
        "avg": F.avg(value_col),
        "sum": F.sum(value_col),
        "min": F.min(value_col),
        "max": F.max(value_col),
        "median": F.expr(f"percentile({value_col}, 0.5)"),
    }[agg].over(w)
    return keep_own_chunk(d.withColumn(out_col, agg_col)).drop(CHUNK_KEY)


def _carried_run(
    df: DataFrame, key: str, pos: str, chunk_rows: int, **carry
) -> tuple[DataFrame, WindowSpec]:
    """``df`` cut into ``chunk_rows`` chunks of ``pos`` with its
    :func:`carry_across_chunks` columns, and the chunk-local running
    window, which runs after the join back on its partitioning."""
    chunk = F.floor(F.col(pos) / F.lit(chunk_rows)).cast("long")
    d = carry_across_chunks(df.withColumn(CHUNK_KEY, chunk_key([key], chunk)), **carry)
    w = Window.partitionBy(key, CHUNK_KEY).orderBy(pos)
    return d, w.rowsBetween(Window.unboundedPreceding, 0)


def salted_cumsum(
    df: DataFrame,
    value_col: str,
    key: str = "conv_id",
    order: str = "turn_idx",
    out_col: str | None = None,
    chunk_rows: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Exact unbounded-preceding cumsum via two-phase partial/final.

    Phase 1: cumsum inside the chunk key. Phase 2: per-chunk totals (one
    row per chunk — tiny) get an exclusive prefix-sum over chunks, joined
    back and added (:func:`carry_across_chunks`). This is the reference's
    partial-then-final aggregation shape (``extract_f0_statistics.py:29-35``)
    applied to a window.
    """
    out_col = out_col or f"{value_col}_cumsum"
    d, w = _carried_run(df, key, order, chunk_rows, sums={"_offset": F.sum(value_col)})
    return d.withColumn(out_col, F.sum(value_col).over(w) + F.col("_offset")).drop(
        CHUNK_KEY, "_offset"
    )


def salted_forward_fill(
    df: DataFrame,
    value_col: str,
    key: str = "conv_id",
    order: str = "turn_idx",
    out_col: str | None = None,
    chunk_rows: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Exact forward-fill with salting: chunk-local fill + per-chunk last
    non-null carried across chunks (two-phase state hand-off)."""
    out_col = out_col or f"{value_col}_ffill"
    d, w = _carried_run(
        df, key, order, chunk_rows, lasts={"_carry": F.col(value_col)}, order=F.col(order)
    )
    local = F.last(value_col, ignorenulls=True).over(w)
    return d.withColumn(out_col, F.coalesce(local, F.col("_carry"))).drop(
        CHUNK_KEY, "_carry"
    )


def hot_entity_keys(df: DataFrame, key: str | list[str], threshold: int) -> DataFrame:
    """Keys whose row count reaches ``threshold`` — the hot side of a
    skewed-join split. Output is one row per hot key (by construction far
    smaller than the fact table: at most n_rows/threshold keys)."""
    key_cols = [key] if isinstance(key, str) else list(key)
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n_rows"))
        .where(F.col("n_rows") >= F.lit(int(threshold)))
        .select(*key_cols)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    n_salts: int = 16,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Skew-resilient equi-join: replicate the RIGHT side ``n_salts``× and
    scatter the LEFT side across the replicas, so one hot key becomes
    ``n_salts`` shuffle partitions instead of one straggler task.

    Exact: every left row carries ONE salt and meets exactly the replica
    set with that salt, so inner/left semantics are untouched (``right``/
    ``full`` would see unmatched right rows once per replica — rejected).
    AQE's skew-join split handles moderate skew after the fact; explicit
    salting is for the 10^7-rows-per-key regime where even one key's
    sorted run must not land in one task (north_star: explicit salting +
    two-phase aggregation).

    With ``hot_keys`` (e.g. :func:`hot_entity_keys` output, bounded by
    construction), only hot-key rows pay the replication — the cold
    majority takes the plain join — and the two halves union. Without it,
    the whole join is salted (right side must be dim-sized).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how}")
    on_cols = [on] if isinstance(on, str) else list(on)

    def _salted(lf: DataFrame, rt: DataFrame) -> DataFrame:
        rep = rt.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(int(n_salts) - 1)))
        )
        lf = lf.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(int(n_salts))).cast("int"),
        )
        return lf.join(rep, [*on_cols, "_salt"], how).drop("_salt")

    if hot_keys is None:
        return _salted(left, right)
    hk = F.broadcast(hot_keys.select(*on_cols))
    out_hot = _salted(left.join(hk, on_cols, "semi"), right.join(hk, on_cols, "semi"))
    out_cold = left.join(hk, on_cols, "anti").join(right, on_cols, how)
    return out_hot.unionByName(out_cold)
