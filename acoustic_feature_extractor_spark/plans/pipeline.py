"""The flagship feature pipeline — ``extract_collected_local`` recast.

One declarative plan over transcripts(conv_id, turn_idx, role, text, tool,
ts) producing the per-turn feature vector the north_star describes:

- lag/lead context (prev/next role, tool, text length, Δts)   [W2]
- rolling 5-turn stats over text length                        [W1]
- gap sessionization + position-in-session                     [W6]
- forward-fill of the latest tool state (as-of state fill)     [W4/J5]
- corpus-normalized text-length z-score (two-phase stats)      [A1/P2/J7]

Single shuffle on conv_id serves every window (same partitioning reused
across specs); the stats side is a 1-row broadcast. Payload columns pass
through untouched (per-turn text-equality invariant).

Skew routing (``salt_above``): at 10^12 turns a 10^7-turn
mega-conversation is one straggler task under plain
``partitionBy(conv_id)`` windows. When ``salt_above`` is set, every
conversation longer than that many turns is routed through a FUSED
salted plan (carry-row chunk windows for the bounded features +
two-phase partial/final hand-off for the run-frame features, built
from ``operators/skew.py``'s chunk primitives and fused so the mega
slice costs two chunk-keyed window passes + one tiny summary join
instead of nine). The two slices are unioned; output is frame-identical
to the plain path (pytest-pinned on a mega-conv fixture).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from ..datagen import SESSION_GAP_SECONDS
from ..functions.scalars import epoch_sec_fn
from ..operators.fill import forward_fill
from ..operators.sessionize import sessionize
from ..operators.skew import (
    CHUNK_KEY,
    DEFAULT_CHUNK,
    carry_across_chunks,
    carry_rows,
    keep_own_chunk,
    profile_entity_sizes,
)
from ..operators.stats import corpus_stats
from .hints import maybe_broadcast

_FEATURE_COLS = [
    "prev_role",
    "next_role",
    "prev_text_len",
    "dt_prev_sec",
    "roll_len_mean",
    "roll_len_min",
    "roll_len_max",
    "session_id",
    "turn_in_session",
    "last_tool",
]


def _bounded_features(w: WindowSpec, rolling: int, sec) -> list[Column]:
    """lag/lead context, Δts and the rolling frame over ``w``."""
    w_roll = w.rowsBetween(-(rolling // 2), rolling - 1 - rolling // 2)
    return [
        F.lag("role").over(w).alias("prev_role"),
        F.lead("role").over(w).alias("next_role"),
        F.lag("text_len").over(w).alias("prev_text_len"),
        (sec(F.col("ts")) - F.lag(sec(F.col("ts"))).over(w)).alias("dt_prev_sec"),
        F.avg("text_len").over(w_roll).alias("roll_len_mean"),
        F.min("text_len").over(w_roll).alias("roll_len_min"),
        F.max("text_len").over(w_roll).alias("roll_len_max"),
    ]


def _session_marks(d: DataFrame, gap_seconds: float) -> tuple[DataFrame, Column]:
    """Adds ``_new`` (this turn opens a session) and returns the
    session-start position: ``_rn`` where a session opens, else NULL."""
    # same gap predicate as operators/sessionize.py (strict >; first row
    # of a conversation has a null gap and opens session 0)
    d = d.withColumn("_new", F.when(F.col("dt_prev_sec") > gap_seconds, 1).otherwise(0))
    return d, F.when((F.col("_new") == 1) | F.col("dt_prev_sec").isNull(), F.col("_rn"))


def _base_features(
    transcripts: DataFrame, gap_seconds: float, rolling: int
) -> DataFrame:
    """Plain-window flagship body (see module docstring)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # THREE window passes total, all on one (conv_id, turn_idx) sort:
    # pass 1 = every offset function (+ the conv-position row number),
    # pass 2 = the rolling frame, pass 3 = ONE run-frame WindowExec
    # fusing the session cumsum, the session-start carry, and the tool
    # forward-fill (same spec + frame + projection step → Spark plans a
    # single operator). The composable equivalents (sessionize(),
    # forward_fill(), a (conv_id, session_id) row_number) spell the same
    # semantics in 6 passes; the flagship is the headline path, so it is
    # hand-fused and pinned by the golden + oracle tests.
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    _sec = epoch_sec_fn(transcripts, "ts")  # tz-independent; dtype-dispatched
    d = transcripts.withColumn("text_len", F.length("text").cast("double"))
    d = d.select(
        "*", *_bounded_features(w, rolling, _sec), F.row_number().over(w).alias("_rn")
    )
    d, start = _session_marks(d, gap_seconds)
    d = d.select(
        "*",
        F.sum("_new").over(w_run).cast("int").alias("session_id"),
        # turn_in_session = conv-position − conv-position at the session's
        # first row: a (conv_id, session_id)-keyed row_number would force
        # a second local sort per partition
        F.last(start, ignorenulls=True).over(w_run).alias("_sess_start"),
        F.last("tool", ignorenulls=True).over(w_run).alias("last_tool"),
    )
    d = (
        d.withColumn("turn_in_session", (F.col("_rn") - F.col("_sess_start")).cast("int"))
        .drop("_rn", "_new", "_sess_start")
    )
    # canonical column order (schema contract of entry()/golden snapshot)
    base = [c for c in transcripts.columns] + ["text_len"]
    return d.select(*base, *_FEATURE_COLS)


def _base_features_salted(
    transcripts: DataFrame,
    gap_seconds: float,
    rolling: int,
    chunk_rows: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Salted flagship body — frame-identical to :func:`_base_features`.

    Requires the transcripts invariant (contiguous integer ``turn_idx``
    per conversation — datagen and the reference's frame indexing both
    guarantee it). Two exact-equality mechanisms from ``operators/skew.py``,
    fused:

    - bounded features (lag/lead, Δts, rolling frame): carry-row chunk
      windows (``skew.carry_rows``, ``skew.salted_rolling``'s proof).
    - run-frame features (session cumsum, session-start carry, tool
      fill): chunk-local partials in the SAME chunk-key sort, then ONE
      ``skew.carry_across_chunks`` call for all three carries (one
      summary, one join).

    ``turn_in_session`` uses ``turn_idx`` itself as the conv-position —
    a constant shift vs the plain path's 1-based row_number, which
    cancels in the difference, so values match exactly.
    """
    lo, hi = -(rolling // 2), rolling - 1 - rolling // 2
    margin = max(abs(lo), hi, 1)  # offsets reach 1; the rolling frame, max(|lo|,hi)
    assert chunk_rows >= margin, (
        f"chunk_rows={chunk_rows} must be >= window margin={margin}"
    )
    _sec = epoch_sec_fn(transcripts, "ts")  # tz-independent; dtype-dispatched
    d = transcripts.withColumn("text_len", F.length("text").cast("double"))
    d = carry_rows(
        d, ["conv_id"], F.col("turn_idx"), chunk_rows, back=margin, ahead=margin
    )

    # partitioned on the chunk key alone, the join key of the carry below
    w_c = Window.partitionBy(CHUNK_KEY).orderBy("turn_idx")
    d = d.select("*", *_bounded_features(w_c, rolling, _sec))
    # own rows only; the run-frame pass below reuses the same exchange+sort
    d = keep_own_chunk(d)
    # NULL Δts must mean "first turn of the conversation" (it opens
    # session 0); for chunks > 0 the lag came from a carry row, so a null
    # there can only be a genuinely-null ts gap — same as the plain path.
    d, start = _session_marks(d.withColumn("_rn", F.col("turn_idx").cast("long")), gap_seconds)

    w_run_c = w_c.rowsBetween(Window.unboundedPreceding, 0)
    d = d.select(
        "*",
        F.sum("_new").over(w_run_c).alias("_loc_sess"),
        F.last(start, ignorenulls=True).over(w_run_c).alias("_loc_start"),
        F.last("tool", ignorenulls=True).over(w_run_c).alias("_loc_tool"),
    )
    d = carry_across_chunks(
        d,
        sums={"_sess_off": F.sum("_new")},
        lasts={"_start_carry": start, "_tool_carry": F.col("tool")},
        order=F.col("_rn"),
    )
    d = (
        d.withColumn("session_id", (F.col("_loc_sess") + F.col("_sess_off")).cast("int"))
        .withColumn("_sess_start", F.coalesce(F.col("_loc_start"), F.col("_start_carry")))
        .withColumn("last_tool", F.coalesce(F.col("_loc_tool"), F.col("_tool_carry")))
        .withColumn("turn_in_session", (F.col("_rn") - F.col("_sess_start")).cast("int"))
    )
    base = [c for c in transcripts.columns] + ["text_len"]
    return d.select(*base, *_FEATURE_COLS)


def adaptive_salt_above(
    transcripts: DataFrame,
    chunk_rows: int = DEFAULT_CHUNK,
    straggler_factor: float = 4.0,
    key: str = "conv_id",
) -> int | None:
    """Derive the skew-routing threshold from the ACTUAL key histogram.

    One small profile job (map-side-combined groupBy count + an
    approx-percentile over the per-key sizes) picks the threshold the
    VERDICT r3 critique asked for: a static ``salt_above`` either
    reintroduces stragglers (too high at 100×) or pays the salted
    machinery on the bulk (too low at mild skew). The rule:

    - a key is a straggler only if it is ``straggler_factor`` × the
      p99 key size — i.e. far outside the bulk distribution, so the
      plain path keeps ≥ 99% of keys and the salted overhead is paid
      only where a single window task would actually stall the stage
      (p99, not p99.9: the bulk estimator must not itself be captured
      by the handful of mega-keys it exists to detect — on any sample
      where stragglers are ≲0.1% of keys, p99.9 IS the straggler size
      and the threshold chases its own tail);
    - AND only if splitting helps: below ``2 · chunk_rows`` the salted
      plan can't produce more than ~2 chunks, so routing it is pure
      overhead — the threshold never drops below that.

    Returns None on an empty input (nothing to salt). The profile costs
    one extra job; at true scale run it once and pass the number to
    every downstream invocation (no job under ``jobs/`` does this yet:
    they all run plain windows).
    """
    thr, _ = _adaptive_profile(transcripts, chunk_rows, straggler_factor, key)
    return thr


def _adaptive_profile(
    transcripts: DataFrame,
    chunk_rows: int,
    straggler_factor: float,
    key: str,
) -> tuple[int | None, int | None]:
    """(threshold, max key size) from ONE profile job — the max rides the
    same aggregate for free, and lets ``turn_features(salt_above="auto")``
    skip the whole split machinery (second profile + anti/semi joins +
    union of an empty salted branch) when NO key exceeds the threshold:
    the common mild-skew case should cost plain-path + one profile job."""
    row = (
        profile_entity_sizes(transcripts, key=key)
        .agg(
            F.percentile_approx("n_rows", F.lit(0.99), F.lit(10000)).alias("p99"),
            F.max("n_rows").alias("mx"),
        )
        .first()
    )
    if row is None or row["p99"] is None:
        return None, None
    return max(int(straggler_factor * row["p99"]), 2 * chunk_rows), int(row["mx"])


def turn_features(
    transcripts: DataFrame,
    gap_seconds: float = SESSION_GAP_SECONDS,
    rolling: int = 5,
    frozen_stats: dict | None = None,
    salt_above: int | str | None = None,
    chunk_rows: int = DEFAULT_CHUNK,
) -> DataFrame:
    """The flagship per-turn feature DataFrame (see module docstring).

    ``salt_above``: conversations with more than that many turns take the
    fused salted plan (straggler bound = ``chunk_rows``-sized tasks
    instead of one task per mega-conversation); ``None`` = plain windows
    everywhere (the right call when the key histogram is tame);
    ``"auto"`` = derive the threshold from the input's own key histogram
    (:func:`adaptive_salt_above`) — mild skew routes everything plain,
    genuine mega-keys route salted, no caller constant to mis-set.
    """
    if salt_above == "auto":
        salt_above, _mx = _adaptive_profile(transcripts, chunk_rows, 4.0, "conv_id")
        if salt_above is not None and _mx is not None and _mx <= salt_above:
            # nothing qualifies: route everything plain instead of paying
            # the split machinery (second profile + anti/semi joins +
            # union with an empty salted branch) for zero routed keys
            salt_above = None
    if salt_above is not None:
        big_keys = (
            profile_entity_sizes(transcripts, key="conv_id")
            .where(F.col("n_rows") > salt_above)
            .select("conv_id")
        )
        # mega-conversations are rare by construction — the key list is
        # tiny (estimate-gated broadcast; AQE if the estimate is absent)
        small = transcripts.join(maybe_broadcast(big_keys), "conv_id", "left_anti")
        big = transcripts.join(maybe_broadcast(big_keys), "conv_id", "left_semi")
        d = _base_features(small, gap_seconds, rolling).unionByName(
            _base_features_salted(big, gap_seconds, rolling, chunk_rows)
        )
    else:
        d = _base_features(transcripts, gap_seconds, rolling)

    if frozen_stats is not None:
        # stats pinned by the caller (resumable bucketed runs: every bucket
        # must normalize against the SAME corpus numbers, jobs/run_turn_features.py)
        sd = float(frozen_stats["stddev"])
        d = d.withColumn(
            "text_len_z",
            (F.col("text_len") - F.lit(float(frozen_stats["mean"]))) / F.lit(sd)
            if sd != 0.0
            else F.lit(0.0),
        )
        return d
    # stats read the RAW input, not the windowed frame: text_len depends
    # only on text, and aggregating over `d` would re-execute the whole
    # window lineage (a second conv_id exchange) in the stats branch
    st = corpus_stats(
        transcripts.withColumn("text_len", F.length("text").cast("double")),
        "text_len",
    ).select(F.col("mean").alias("_gm"), F.col("stddev").alias("_gs"))
    d = d.crossJoin(F.broadcast(st)).withColumn(
        "text_len_z",
        F.when(
            F.col("_gs") != 0.0,
            (F.col("text_len") - F.col("_gm")) / F.col("_gs"),
        ).otherwise(F.lit(0.0)),
    ).drop("_gm", "_gs")
    return d
