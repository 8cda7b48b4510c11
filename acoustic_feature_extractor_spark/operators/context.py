"""Transcript-native context operators: leak-free trailing-context
assembly, conversation fingerprinting/dedup, turn-transition mining, and
degenerate-loop detection.

These recast the reference's frame-context features (pre/post context
concat, ``/root/reference/src/acoustic_feature_extractor/data/sampling_data.py``
collect semantics) into the operations an LLM-training pipeline runs over
multi-turn agent transcripts:

- :func:`trailing_context` — for every turn, how much PRIOR conversation
  fits in a fixed token budget (the training-example context-window
  assembly question), with zero temporal leakage by construction.
- :func:`sequence_fingerprint` / :func:`dedup_conversations` —
  order-sensitive 62-bit conversation fingerprints computed with ONE
  commutative aggregation (no ``collect_list``, no sort), so whole-corpus
  conversation dedup is a single groupBy at any scale; a ``prefix_len``
  variant detects shared-prefix families (same system prompt / seed
  exchange).
- :func:`transition_counts` — role/tool bigram transition statistics
  (the agent-behavior Markov profile).
- :func:`degenerate_runs` — runs of identical states per conversation
  (assistant stuck in a loop), gaps-and-islands, no per-row Python.

All pure JVM column arithmetic — no UDFs of any kind.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import portable_mix, token_hash_portable

_M1 = 2147483647  # 2^31 - 1 (Mersenne)
_M2 = 2147483629
_MASK31 = (1 << 31) - 1


def trailing_context(
    df: DataFrame,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    weight_col: str = "n_tokens",
    budget: int = 512,
) -> DataFrame:
    """Per-turn trailing-context stats under a token budget, leak-free.

    For each row t, the context set is the contiguous run of PRIOR rows
    j < t (same entity, in ``order_cols`` order) whose suffix weight —
    the total weight of rows j+1..t, i.e. everything that must share the
    window with turn j, INCLUDING the current turn — fits in ``budget``.
    This is exactly the "which previous turns still fit when I pack this
    example" question a context-window assembler answers, and it reads
    only rows with a strictly smaller order key: zero temporal leakage by
    construction (north_rule invariant).

    Physical plan: one window cumsum of the weight, then a RANGE frame
    ``[cum - budget, cum - 1]`` ordered by the cumulative weight itself —
    both passes share the same (entity) exchange, so the whole operator
    is ONE shuffle and stays in WholeStageCodegen. No collected lists:
    state per row is O(1), which is what lets it run over 10^12 turns.

    Requires integer weights >= 1 (asserted structurally: the cumsum is
    strictly increasing inside an entity, making the RANGE ordering
    unambiguous). Output adds:

    - ``{p}turns``  — number of prior turns in the context set
    - ``{p}tokens`` — their total weight (what the context costs)
    - ``{p}truncated`` — true iff at least one prior turn did NOT fit
    """
    p = "ctx_"
    w_cum = (
        Window.partitionBy(entity_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(weight_col).cast("long")).over(w_cum)
    d = df.withColumn("_cum_w", cum)
    w_rng = (
        Window.partitionBy(entity_col)
        .orderBy("_cum_w")
        .rangeBetween(-int(budget), -1)
    )
    n_prior = F.count(F.lit(1)).over(w_rng)
    tok = F.coalesce(F.sum(weight_col).over(w_rng), F.lit(0)).cast("long")
    w_all = (
        Window.partitionBy(entity_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total_prior = F.count(F.lit(1)).over(w_all)
    return (
        d.withColumn(f"{p}turns", n_prior.cast("long"))
        .withColumn(f"{p}tokens", tok)
        .withColumn(f"{p}truncated", total_prior > n_prior)
        .drop("_cum_w")
    )


def _lane_hash(content: Column, idx: Column) -> Column:
    """Position-salted portable hash of one turn, uniform in [0, 2^61).

    The 0-based order index is folded INTO the hashed string, so a plain
    commutative SUM of these values is order-sensitive: swapping two
    distinct turns changes both addends. ``token_hash_portable`` /
    ``portable_mix`` keep every intermediate exact in int64 on any
    engine, so a DuckDB oracle reproduces fingerprints bit-for-bit."""
    key = F.concat_ws("\x1f", content, idx.cast("string"))
    return portable_mix(token_hash_portable(key))


def sequence_fingerprint(df: DataFrame) -> DataFrame:
    """Order-sensitive 62-bit fingerprint ``conv_fp`` of each conversation's
    turn sequence (``text`` at ``turn_idx``).

    fp = (Σ low31(h_i) mod M1) · 2^31 + (Σ high30(h_i) mod M2) where
    h_i = portable_mix(poly_hash(content_i ⊕ idx_i)). Because the
    position is salted into h_i, the SUM is order-sensitive even though
    addition commutes — and a commutative aggregate means the whole
    fingerprint is ONE partial-aggregated groupBy: no sort, no
    collect_list, no per-entity memory. At 10^12 turns this is the only
    shape that works; a concat-then-hash design would collect entire
    mega-conversations onto single tasks.

    Two independent 31-bit lanes keep per-pair collision odds at ~2^-61
    (the reference's paired-accumulator trick, ``dedup.token_hash_portable``).
    Exactness: each lane sum grows by < 2^31 per turn, so int64 is exact
    up to 2^32 turns per entity; the mod is applied once at the end.
    """
    h = _lane_hash(F.col("text"), F.col("turn_idx"))
    lane1 = F.sum(h.bitwiseAND(F.lit(_MASK31)))
    lane2 = F.sum(F.shiftright(h, 31))
    fp = F.shiftleft(lane1 % F.lit(_M1), 31) + (lane2 % F.lit(_M2))
    return df.groupBy("conv_id").agg(fp.alias("conv_fp"))


def dedup_conversations(
    df: DataFrame,
    entity_col: str = "conv_id",
    idx_col: str = "turn_idx",
    content_col: str = "text",
    prefix_len: int = 4,
) -> DataFrame:
    """Conversation-level exact dedup + prefix-family detection.

    One row per entity: its full-sequence fingerprint, its
    ``prefix_len``-turn prefix fingerprint, the sizes of both duplicate
    groups, and ``is_canonical`` (this entity is the keeper — minimal id
    in its full-fingerprint group, the deterministic-winner rule
    ``dedup.dedup_exact`` uses). Training-set usage::

        keep = dedup_conversations(t).where("is_canonical")

    Plan: ONE pass over the turns table — the prefix fingerprint is the
    same commutative lane sum restricted by ``F.when(idx < prefix_len)``,
    so both fingerprints come out of a single partial-aggregated groupBy
    (one scan, one exchange) instead of two scans plus a join. Entities
    with no prefix rows get ``prefix_fp = -1`` (sum over an empty set is
    NULL → coalesced), matching the join-based formulation.
    """
    h = _lane_hash(F.col(content_col), F.col(idx_col))
    l1 = h.bitwiseAND(F.lit(_MASK31))
    l2 = F.shiftright(h, 31)
    in_prefix = F.col(idx_col) < int(prefix_len)

    def _fp(s1: Column, s2: Column) -> Column:
        return F.shiftleft(s1 % F.lit(_M1), 31) + (s2 % F.lit(_M2))

    both = df.groupBy(entity_col).agg(
        _fp(F.sum(l1), F.sum(l2)).alias("conv_fp"),
        F.coalesce(
            _fp(F.sum(F.when(in_prefix, l1)), F.sum(F.when(in_prefix, l2))),
            F.lit(-1),
        ).alias("prefix_fp"),
    )
    w_full = Window.partitionBy("conv_fp")
    w_pref = Window.partitionBy("prefix_fp")
    return both.select(
        entity_col,
        "conv_fp",
        "prefix_fp",
        F.count(F.lit(1)).over(w_full).cast("long").alias("n_same_conv"),
        F.count(F.lit(1)).over(w_pref).cast("long").alias("n_same_prefix"),
        (F.col(entity_col) == F.min(entity_col).over(w_full)).alias("is_canonical"),
    )


def transition_counts(
    df: DataFrame,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    state_col: str = "role",
) -> DataFrame:
    """Bigram transition statistics over per-entity state sequences.

    Output: (prev_state, state, n, share) where share is the conditional
    transition probability P(state | prev_state) — the agent-behavior
    Markov profile (role alternation health, tool→tool chains). The
    first turn of each entity has no predecessor and is excluded.

    Plan: one (entity) window lag + one global groupBy on the bigram —
    the result is at most |states|² rows, so the share window is trivial.
    """
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    d = df.withColumn("_prev", F.lag(state_col).over(w)).where(
        F.col("_prev").isNotNull()
    )
    g = d.groupBy(F.col("_prev").alias("prev_state"), F.col(state_col).alias("state")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_prev = Window.partitionBy("prev_state")
    return g.withColumn(
        "share", F.round(F.col("n") / F.sum("n").over(w_prev), 6)
    )


def degenerate_runs(
    df: DataFrame,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    state_col: str = "role",
    min_run: int = 3,
) -> DataFrame:
    """Per-entity longest same-state run + count of degenerate runs.

    A run of >= ``min_run`` consecutive turns with the same state is the
    transcript signature of a stuck agent (assistant answering itself,
    tool retry storms) — a standard curation filter. Gaps-and-islands:
    island id = row_number(entity) - row_number(entity, state), both over
    the SAME (entity) exchange, then two groupBys that only ever shrink
    the data. No per-row Python, no self-join.

    Output: (entity, max_run, n_degenerate, worst_state) where
    worst_state is the state of the longest run (ties: the
    lexicographically LARGEST such state — a total order both engines
    share, so the oracle can reproduce it).
    """
    w_all = Window.partitionBy(entity_col).orderBy(*order_cols)
    w_state = Window.partitionBy(entity_col, state_col).orderBy(*order_cols)
    d = df.withColumn(
        "_island", F.row_number().over(w_all) - F.row_number().over(w_state)
    )
    runs = d.groupBy(entity_col, state_col, "_island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    runs = runs.withColumn(
        "_max_run", F.max("run_len").over(Window.partitionBy(entity_col))
    )
    return runs.groupBy(entity_col).agg(
        F.max("run_len").cast("long").alias("max_run"),
        F.sum((F.col("run_len") >= int(min_run)).cast("long"))
        .cast("long")
        .alias("n_degenerate"),
        F.max(
            F.when(F.col("run_len") == F.col("_max_run"), F.col(state_col))
        ).alias("worst_state"),
    )


def funnel_steps(
    df: DataFrame,
    steps: list[str],
    by: str | list[str] = "conv_id",
    order: str = "turn_idx",
    step_col: str = "tool",
) -> DataFrame:
    """Ordered-step funnel per entity: how far through ``steps`` each
    conversation progressed, requiring each step to occur at a strictly
    later ``order`` position than the matched previous step (greedy
    earliest-match — the standard funnel semantics, and greedy is optimal:
    matching the earliest occurrence of step i can only widen the set of
    candidates for step i+1).

    Output: (by…, steps_completed, step_orders) — ``step_orders[i]`` is
    the ``order`` value where step i+1 matched (array length =
    steps_completed).

    Plan shape — ONE pass, no self-joins: rows are pre-filtered to the
    step vocabulary (a k-literal isin — at 100 TB this drops everything
    but the funnel events before any shuffle), grouped once per entity,
    and the greedy match is an O(m) ``aggregate`` fold over the
    order-sorted (order, step_pos) structs of that entity (m = the
    entity's funnel-event count, bounded by the conversation length).
    The k-CTE sequential-min-join formulation the oracle uses would scan
    the fact table k times and shuffle k rollup joins; the fold gets the
    identical answer in one exchange. No Python anywhere.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    by_cols = [by] if isinstance(by, str) else list(by)
    pos = F.array_position(
        F.array(*[F.lit(s) for s in steps]), F.col(step_col).cast("string")
    )  # 1-based; 0 = not a funnel step
    ev = (
        df.withColumn("_sp", pos)
        .where(F.col("_sp") > 0)
        .select(*by_cols, F.col(order).alias("_ord"), "_sp")
    )
    seq = ev.groupBy(*by_cols).agg(
        F.array_sort(F.collect_list(F.struct("_ord", "_sp"))).alias("_ev")
    )
    init = F.struct(
        F.lit(1).alias("nxt"),
        F.array().cast("array<long>").alias("idxs"),
    )
    fold = F.aggregate(
        "_ev",
        init,
        lambda st, e: F.when(
            e["_sp"] == st["nxt"],
            F.struct(
                (st["nxt"] + 1).alias("nxt"),
                F.array_append(st["idxs"], e["_ord"].cast("long")).alias("idxs"),
            ),
        ).otherwise(st),
    )
    return seq.withColumn("_f", fold).select(
        *by_cols,
        F.col("_f.idxs").alias("step_orders"),
        F.size("_f.idxs").cast("long").alias("steps_completed"),
    )
