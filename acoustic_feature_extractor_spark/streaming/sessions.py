"""Structured Streaming surface (beyond-reference; the reference is batch
only — every script is a finite glob → pool → files run,
``/root/reference/src/extractor/extract_f0.py:50-63``).

Provided because a transcript feed is naturally a stream: watermarked
session windows (the streaming twin of the batch gap-sessionization in
``operators/sessionize.py``) and windowed turn-rate aggregates. Tested by
driving a parquet-backed stream to completion with
``processAllAvailable()`` (no external broker in the sandbox).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_session_agg(
    stream: DataFrame,
    gap_seconds: float = 300.0,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Per-(key, session_window) turn counts with late-data watermarking.

    ``session_window`` closes a session after ``gap_seconds`` idle — the
    streaming equivalent of the batch cumsum-of-gaps session ids (right-
    open boundary: a gap of EXACTLY ``gap_seconds`` starts a new
    session). ``watermark=None`` skips the watermark (complete-mode
    sinks / TIMESTAMP_NTZ feeds, as in ``streaming_rollup``).
    """
    src = stream.withWatermark("ts", watermark) if watermark is not None else stream
    return (
        src.groupBy(F.session_window(F.col("ts"), f"{int(gap_seconds)} seconds"), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def streaming_rollup(
    stream: DataFrame,
    bucket_seconds: float,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators/rollup.rollup``: per-(entity,
    time-bucket) decomposable summaries over a live feed, watermarked so
    bucket state is finalized and evicted once late data can no longer
    arrive. ``watermark=None`` skips the watermark (complete/update-mode
    sinks, or TIMESTAMP_NTZ feeds — Spark's event-time watermark
    requires an instant TIMESTAMP; window bucketing itself is NTZ-safe
    and stays on the batch epoch-floor grid). Emits the same schema as the batch rollup (bucket = window
    start), so a ``snapshot_sink`` of this stream IS the continuous
    aggregate the batch ``rollup_coarser`` cascades from. Widths are
    honored to the microsecond (the timestamp resolution), so fractional
    ``bucket_seconds`` bucket identically to the batch floor transform
    instead of being silently truncated."""
    if not bucket_seconds > 0:
        raise ValueError(f"bucket_seconds must be > 0, got {bucket_seconds}")
    v = F.col("value")
    w = F.window(F.col("ts"), f"{int(round(float(bucket_seconds) * 1e6))} microseconds")
    src = stream.withWatermark("ts", watermark) if watermark is not None else stream
    return (
        src.groupBy(F.col("user_id"), w.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("_w.start").alias("bucket"),
            "n",
            "sum_v",
            "min_v",
            "max_v",
            "first_ts",
            "last_ts",
            (F.col("sum_v") / F.col("n")).alias("avg_v"),
        )
    )


def streaming_distinct_rollup(
    stream: DataFrame,
    bucket_seconds: float,
    by: str = "user_id",
    value_col: str = "value",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators/sketches.distinct_rollup``: per-
    (entity, bucket) HLL sketches over a live feed. The emitted schema is
    the batch rollup's (bucket = window start), so a ``snapshot_sink`` of
    this stream is a sketches-at-rest table the batch
    ``sketches.distinct_coarser`` merges upward WITHOUT ever seeing the
    raw feed — the stream is the only component that touches raw events.
    Sketch state is bounded: one ~lgk-sized buffer per open (entity,
    bucket), evicted at the watermark."""
    w = F.window(
        F.col("ts"), f"{int(round(float(bucket_seconds) * 1e6))} microseconds"
    )
    src = stream.withWatermark("ts", watermark) if watermark is not None else stream
    return (
        src.groupBy(F.col(by), w.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.hll_sketch_agg(F.col(value_col), F.lit(14)).alias("sketch"),
        )
        .select(by, F.col("_w.start").alias("bucket"), "n", "sketch")
    )


def streaming_hist_rollup(
    stream: DataFrame,
    bucket_seconds: float,
    lo: float,
    hi: float,
    bins: int = 64,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``operators/sketches.hist_rollup``: per-(entity,
    bucket) fixed-range histogram sketches (same pinned [lo, hi)/bins
    domain and the same binning arithmetic, so stream-landed histograms
    merge losslessly with batch ones in ``sketches.hist_coarser`` and
    finalize in ``sketches.hist_quantiles``). State per open group is the
    ``bins`` long counters — constant, watermark-evicted."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    w_bin = (float(hi) - float(lo)) / int(bins)
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(float(lo))) / F.lit(w_bin)), F.lit(0)
        ),
        F.lit(int(bins) - 1),
    )
    w = F.window(
        F.col("ts"), f"{int(round(float(bucket_seconds) * 1e6))} microseconds"
    )
    src = stream.withColumn("_bin", bin_)
    if watermark is not None:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.col("user_id"), w.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("_bin") == i).cast("long")).alias(f"_h{i}")
                for i in range(int(bins))
            ],
        )
        .select(
            "user_id",
            F.col("_w.start").alias("bucket"),
            "n",
            F.array(*[f"_h{i}" for i in range(int(bins))]).alias("hist"),
        )
    )


def streaming_state_fill(
    stream: DataFrame,
    value_col: str = "tool",
):
    """Custom stateful operator via ``applyInPandasWithState``: streaming
    forward-fill of the latest non-null ``value_col`` per entity — the
    streaming twin of the batch ``operators/fill.forward_fill`` (and the
    as-of state fill of the flagship pipeline).

    Per micro-batch, each entity's rows are sorted by ``ts``, filled from
    the carried GroupState, and the last non-null value is written back to
    state — exactly the salted-window carry hand-off, with GroupState as
    the cross-batch carrier. Arrow-batched; no per-row Python.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"conv_id string, ts timestamp, {value_col} string, filled string"
    state_schema = "last string"

    def fn(key_tuple, pdfs, state: GroupState):
        # applyInPandasWithState gives NO ts ordering across the Arrow
        # chunks of one group: a later-ts chunk can arrive first, and a
        # chunk-at-a-time fill would back-fill earlier rows from it.
        # Materialize the whole group, sort ONCE globally, then fill —
        # the state update reads the globally-last non-null value.
        last = state.get[0] if state.exists else None
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((last,))
            yield pd.DataFrame(columns=["conv_id", "ts", value_col, "filled"])
            return
        pdf = pd.concat(frames).sort_values("ts", kind="mergesort")
        s = pdf[value_col].ffill()
        if last is not None:
            s = s.fillna(last)
        if len(s) and not pd.isna(s.iloc[-1]):
            last = s.iloc[-1]
        pdf = pdf[["conv_id", "ts", value_col]].copy()
        pdf["filled"] = s
        state.update((last,))
        yield pdf

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_turn_rate(
    stream: DataFrame,
    window: str = "5 minutes",
    slide: str = "1 minute",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Sliding-window turn-rate aggregate (ops dashboard shape).
    ``watermark=None`` skips the watermark (complete-mode sinks /
    TIMESTAMP_NTZ feeds, as in ``streaming_rollup``)."""
    src = stream.withWatermark("ts", watermark) if watermark is not None else stream
    return (
        src.groupBy(F.window(F.col("ts"), window, slide))
        .agg(F.count("*").alias("n_turns"))
    )


def streaming_trailing_context(
    stream: DataFrame,
    budget: int = 512,
):
    """Streaming twin of ``operators/context.trailing_context``: per-turn
    leak-free context-window stats (how many prior turns — and how many
    tokens — still fit in ``budget``) over a live transcript stream.

    The carried GroupState is PROVABLY BOUNDED: the cumulative token
    count, the prior-turn count, and the cumulative sums of only those
    recent turns still within ``budget`` tokens of the head — at most
    ``budget`` entries since weights are >= 1, independent of
    conversation length. A mega-conversation costs the same state as a
    short one, which is what makes this operator safe on an unbounded
    stream. Per micro-batch the group is sorted once and evaluated with
    numpy cumsum + searchsorted — Arrow-batched, no per-row Python.

    Requires per-entity in-order arrival across micro-batches (same
    contract as :func:`streaming_state_fill`'s carry). Exactly equal to
    the batch operator over any drop sequence (pytest-pinned).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, turn_idx int, ctx_turns bigint, ctx_tokens bigint, "
        "ctx_truncated boolean"
    )
    state_schema = "cum long, n long, base long, cums array<long>"
    cols = ["conv_id", "turn_idx", "ctx_turns", "ctx_tokens", "ctx_truncated"]

    def fn(key_tuple, pdfs, state: GroupState):
        if state.exists:
            cum0, n0, base, cums = state.get
            prior = np.asarray(cums, dtype="int64")
        else:
            cum0, n0, base, prior = 0, 0, 0, np.empty(0, dtype="int64")
        frames = [p for p in pdfs if len(p)]
        if not frames:
            state.update((cum0, n0, base, [int(x) for x in prior]))
            yield pd.DataFrame(columns=cols)
            return
        pdf = pd.concat(frames).sort_values("turn_idx", kind="mergesort")
        w = pdf["n_tokens"].to_numpy(dtype="int64")
        cums_new = cum0 + np.cumsum(w)
        all_cums = np.concatenate([prior, cums_new])
        pos = np.arange(len(prior), len(prior) + len(w))
        # include prior turn j iff cum_j >= cum_t - budget (and j < t)
        lo = np.searchsorted(all_cums, cums_new - budget, side="left")
        n_ctx = pos - lo
        prev_total = cums_new - w
        cum_before_lo = np.where(lo > 0, all_cums[np.maximum(lo - 1, 0)], base)
        tok = prev_total - cum_before_lo
        truncated = (n0 + np.arange(len(w))) > n_ctx
        out = pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy(),
                "turn_idx": pdf["turn_idx"].to_numpy(),
                "ctx_turns": n_ctx.astype("int64"),
                "ctx_tokens": tok.astype("int64"),
                "ctx_truncated": truncated,
            }
        )
        # evict entries that can never re-enter a future frame (future
        # cum_t > last cum, so anything below last_cum - budget is dead);
        # base tracks the cum just before the oldest retained entry so
        # token totals stay exact at the window's left edge
        last_cum = int(cums_new[-1])
        keep = all_cums >= last_cum - budget
        first_kept = int(np.argmax(keep))  # keep[-1] is always True
        new_base = int(all_cums[first_kept - 1]) if first_kept > 0 else base
        state.update(
            (
                last_cum,
                int(n0 + len(w)),
                new_base,
                [int(x) for x in all_cums[keep]],
            )
        )
        yield out

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_conv_fingerprint(stream: DataFrame):
    """Streaming conversation fingerprints — free, BECAUSE of the batch
    design: ``operators/context.sequence_fingerprint`` is a commutative
    sum of position-salted portable hashes, so the streaming twin is a
    PLAIN streaming aggregation (two running lane sums per conversation,
    packed to the 62-bit fingerprint in the output projection). No custom
    state operator, no collected turn lists — state per conversation is
    two longs, and the result is always bit-identical to the batch
    fingerprint over the turns seen so far (pytest-pinned). A
    concat-then-hash fingerprint could not stream at all without
    unbounded per-key buffers."""
    from ..operators.context import _M1, _M2, _MASK31, _lane_hash

    h = _lane_hash(F.col("text"), F.col("turn_idx"))
    g = stream.groupBy("conv_id").agg(
        F.sum(h.bitwiseAND(F.lit(_MASK31))).alias("_l1"),
        F.sum(F.shiftright(h, 31)).alias("_l2"),
    )
    fp = F.shiftleft(F.col("_l1") % F.lit(_M1), 31) + (F.col("_l2") % F.lit(_M2))
    return g.select("conv_id", fp.alias("conv_fp"))


def streaming_cusum(
    stream: DataFrame,
    mu: float,
    sigma: float,
    k: float = 0.5,
    h: float = 5.0,
):
    """Streaming twin of ``operators/temporal.cusum_scores``: two-sided
    CUSUM drift scores per entity with the (S⁺, S⁻) water marks carried
    across micro-batches in GroupState — the live alarm the batch
    operator scores retrospectively.

    The per-batch fold is the same Lindley-recursion closed form the
    batch operator uses, extended with a carry-in: with local prefix sums
    ``C_i`` of ``(z - k)`` and carried score ``S0``,

        S_i = max(S0 + C_i, C_i - min_{j<=i} C_j)

    (the first arm is the never-reset path, the second the best reset
    point; the j = i term supplies the 0 clamp) — two vectorized numpy
    accumulations per side, no per-row Python. The carry-out is the last
    S. The standardization baseline (mu, sigma) is the caller's frozen
    REFERENCE statistic — computed once from the training window (e.g.
    by ``cusum_scores``' ref aggregate) and shipped as literals, so the
    stream never aggregates its own baseline (leak-free by construction,
    and no extra stateful stage).

    Requires per-entity event-time-ordered arrival across batches (rows
    inside a batch are sorted here; a late row belonging before an
    already-emitted score would need retraction, which append-mode CUSUM
    cannot express — gate lateness upstream with a watermarked sort or
    accept the monitoring-grade approximation)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if sigma <= 0:
        raise ValueError(f"sigma must be > 0, got {sigma}")
    out_schema = (
        "conv_id string, ts timestamp, value double, "
        "s_pos double, s_neg double, alarm boolean"
    )
    state_schema = "sp double, sn double"
    mu_f, sg_f, k_f, h_f = float(mu), float(sigma), float(k), float(h)

    def _fold(x: "np.ndarray", s0: float) -> "np.ndarray":
        c = np.cumsum(x)
        runmin = np.minimum.accumulate(np.minimum(c, 0.0))
        return np.maximum(s0 + c, c - runmin)

    def fn(key_tuple, pdfs, state: GroupState):
        sp, sn = (state.get if state.exists else (0.0, 0.0))
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((sp, sn))
            yield pd.DataFrame(
                columns=["conv_id", "ts", "value", "s_pos", "s_neg", "alarm"]
            )
            return
        pdf = pd.concat(frames).sort_values("ts", kind="mergesort")
        z = (pdf["value"].to_numpy(dtype=float) - mu_f) / sg_f
        s_pos = _fold(z - k_f, sp)
        s_neg = _fold(-z - k_f, sn)
        out = pdf[["conv_id", "ts", "value"]].copy()
        out["s_pos"] = s_pos
        out["s_neg"] = s_neg
        out["alarm"] = (s_pos > h_f) | (s_neg > h_f)
        state.update((float(s_pos[-1]), float(s_neg[-1])))
        yield out

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_seasonal_baseline(stream: DataFrame):
    """Streaming twin of ``operators/temporal.seasonal_baseline``: each
    arriving turn is scored against the entity's trailing mean at the
    SAME hour-of-day slot, strictly past, with every
    slot's running (count, sum) carried across micro-batches in
    GroupState.

    State is keyed by ENTITY and holds two fixed arrays of
    ``period/slot`` cells ((count, sum) per slot): per-entity state is
    the same bytes as the per-(entity, slot) layout the batch operator
    exchanges on, but the stream pays ONE state-store row and ONE
    Arrow/pandas group invocation per entity per micro-batch instead of
    one per (entity, slot) — at 24 hourly slots that is 24× fewer
    per-group crossings, which dominates replay-harness micro-batches
    and costs nothing at scale (state bytes unchanged, still O(entities
    × period/slot) scalars). (Schema note: this array layout replaced
    the earlier per-(entity, slot) two-scalar state in r5 — a checkpoint
    written by the old layout fails Spark's state-schema validation on
    restart and must be discarded; state rebuilds from the stream.)

    The slot is computed as a plan column via ``temporal.seasonal_slot``
    (pure wall-clock arithmetic, identical to batch) BEFORE the stateful
    stage; the per-batch fold is a vectorized pandas per-slot prefix
    count/sum with the carry-in, emitted BEFORE the row joins the state
    (zero leakage — the first-ever row of a slot scores NULL, exactly
    the batch semantics).

    Requires per-entity event-time-ordered arrival across batches
    (in-batch rows are sorted here) — the same append-mode contract as
    ``streaming_cusum``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from acoustic_feature_extractor_spark.operators.temporal import seasonal_slot

    n_slots = 24
    out_schema = (
        "conv_id string, slot int, ts timestamp, value double, "
        "n_slot_past bigint, seasonal_mean double"
    )
    state_schema = "ns array<bigint>, ss array<double>"
    cols = ["conv_id", "slot", "ts", "value"]

    def fn(key_tuple, pdfs, state: GroupState):
        if state.exists:
            ns0, ss0 = state.get
            ns = np.asarray(ns0, dtype=np.int64)
            ss = np.asarray(ss0, dtype=np.float64)
        else:
            ns = np.zeros(n_slots, dtype=np.int64)
            ss = np.zeros(n_slots, dtype=np.float64)
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((ns.tolist(), ss.tolist()))
            yield pd.DataFrame(columns=cols + ["n_slot_past", "seasonal_mean"])
            return
        pdf = pd.concat(frames).sort_values("ts", kind="mergesort")
        slot = pdf["slot"].to_numpy(dtype=np.int64)
        v = pdf["value"].to_numpy(dtype=float)
        ok = ~np.isnan(v)
        # strict past PER SLOT: prefix count/sum excluding the current
        # row (groupby-cumsum follows the ts-sorted row order), plus the
        # carried per-slot totals
        g = pd.Series(slot)
        oki = pd.Series(ok.astype(np.int64))
        sv = pd.Series(np.where(ok, v, 0.0))
        cnt = (oki.groupby(g).cumsum() - oki).to_numpy() + ns[slot]
        cum = (sv.groupby(g).cumsum() - sv).to_numpy() + ss[slot]
        out = pdf[cols].copy()
        out["n_slot_past"] = cnt
        out["seasonal_mean"] = np.where(cnt > 0, cum / np.maximum(cnt, 1), np.nan)
        np.add.at(ns, slot[ok], 1)
        np.add.at(ss, slot[ok], v[ok])
        state.update((ns.tolist(), ss.tolist()))
        yield out

    slotted = stream.withColumn(
        "slot", seasonal_slot("ts", 3600.0, 86400.0)
    )
    return slotted.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_time_since_event(
    stream: DataFrame,
    mark_col: str,
):
    """Streaming twin of ``operators/temporal.time_since_event``: seconds
    since the entity's most recent STRICTLY-PAST row where the (upstream,
    plan-computed) boolean ``mark_col`` holds. GroupState carries two
    longs per entity, so state is O(entities) regardless of conversation
    length — the same carry the batch time-chunk salting hands between
    chunks. (Schema note: the two-slot state replaced an earlier
    single-long layout; a checkpoint written by the old layout fails
    Spark's state-schema validation on restart and must be discarded —
    state rebuilds from the stream.)

    Tie semantics match the batch RANGE frame exactly, INCLUDING ties
    that straddle a micro-batch boundary: rows sharing a timestamp never
    see each other, so the state carries TWO marks — the newest mark µs
    and the newest mark STRICTLY older than it. A later row tying the
    carried newest mark must read the older one (strict past); carrying
    only the max would leak the tied mark into its tie-mates
    (since_s = 0 where batch says NULL/earlier). NULL timestamps emit
    NULL and never enter the state, matching the batch operator's
    null-_tus behavior. Whole-group sort per batch (Arrow chunks of one
    group carry no order guarantee). In-order delivery per entity across
    batches is the caller's contract, as with every append-mode stateful
    op here.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"conv_id string, ts timestamp, {mark_col} boolean, since_s double"
    )
    state_schema = "last_us long, prev_us long"

    def fn(key_tuple, pdfs, state: GroupState):
        l1, l2 = state.get if state.exists else (None, None)
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((l1, l2))
            yield pd.DataFrame(columns=["conv_id", "ts", mark_col, "since_s"])
            return
        pdf = pd.concat(frames).sort_values("ts", kind="mergesort")
        out = pdf[["conv_id", "ts", mark_col]].copy()
        res = np.full(len(pdf), np.nan)
        ok = pdf["ts"].notna().to_numpy()
        if ok.any():
            sub = pdf.loc[ok]
            us = sub["ts"].astype("int64").to_numpy() // 1000  # ns -> µs, exact
            mk = sub[mark_col].fillna(False).to_numpy(dtype=bool)
            # all mark-time arithmetic stays in int64 (exact over the full
            # timestamp range — no 2^53 float bound, matching the batch
            # operator); INT64_MIN is the "no mark yet" sentinel, safe
            # because a real epoch-µs can never reach it
            NONE = np.int64(np.iinfo(np.int64).min)
            mus = np.where(mk, us, NONE)
            cm = np.maximum.accumulate(mus)  # inclusive running max
            # strictly-past within the batch: each row reads the inclusive
            # max of the LAST row with a strictly smaller timestamp
            sr = pd.Series(cm, index=pd.Index(us, name="us"))
            prev_per_us = sr.groupby(level="us").last().shift(1, fill_value=NONE)
            base = prev_per_us.reindex(us).to_numpy()
            if l1 is not None:
                carry = np.full(len(us), NONE, dtype=np.int64)
                carry[us > l1] = np.int64(l1)
                if l2 is not None:
                    carry[(us <= l1) & (us > l2)] = np.int64(l2)
                base = np.maximum(base, carry)
            has = base != NONE
            res_ok = np.full(len(us), np.nan)
            res_ok[has] = (us[has] - base[has]) / 1e6
            res[ok] = res_ok
            # fold the batch's top-2 DISTINCT mark times into the carried pair
            cand = [int(l1)] if l1 is not None else []
            if l2 is not None:
                cand.append(int(l2))
            if mk.any():
                bm = us[mk]
                b1 = int(bm.max())
                cand.append(b1)
                below = bm[bm < b1]
                if below.size:
                    cand.append(int(below.max()))
            if cand:
                n1 = max(cand)
                lower = [v for v in cand if v < n1]
                n2 = max(lower) if lower else None
                state.update((int(n1), None if n2 is None else int(n2)))
            else:
                state.update((None, None))
        else:
            state.update((l1, l2))
        out["since_s"] = res
        yield out

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
