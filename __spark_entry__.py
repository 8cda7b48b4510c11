"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship turn-feature pipeline on the sf0.001
transcripts analog. ``queries()`` exposes every implemented operator from
SURVEY.md §2 as (spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL.

Cross-engine comparison conventions (the driver hashes sorted values):
- integer outputs cast to bigint on both sides;
- float outputs rounded to 6 decimals on both sides;
- timestamps exported as epoch-seconds doubles (``ts_sec``), never raw;
- big money sums go through DECIMAL(18,2) so both engines sum exactly;
- every window is ordered by a unique key tuple (ts, event_id) so tie
  order can never differ between engines.

``events(user_id, ts, value, event_type, ...)`` plays the transcripts role
(entity = user_id, turn order = ts): the temporal operators' oracle
checks run on it, while the transcripts-specific tests (text equality,
parity vs the reference-semantics numpy kernels) live in tests/.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.functions import text as tx
from acoustic_feature_extractor_spark.operators import (
    asof as asof_ops,
    cluster as cluster_ops,
    dedup as dedup_ops,
    features as feat_ops,
    fill as fill_ops,
    intervals as interval_ops,
    multimodal as mm_ops,
    percentiles as pct_ops,
    pack as pack_ops,
    sample as sample_ops,
    sessionize as sess_ops,
    sketches as sk_ops,
    similarity as sim_ops,
    skew as skew_ops,
    stats as stats_ops,
    rollup as rollup_ops,
    temporal as temporal_ops,
    windows as win_ops,
)

SF0001 = "/root/testdata/sf0.001"

_EPOCH = "epoch_us({c})/1000000.0"  # duckdb; spark: cast(ts as double)


_T_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-cached table handle. ``spark.read.parquet`` launches a
    schema-inference job on every call (footer reads — over 10^5 files
    that is a real distributed job, per QUERY INVOCATION); a DataFrame is
    an immutable plan, so reusing one per (session, table) makes repeat
    builders cost zero jobs (tests/test_no_incidental_actions.py pins
    this for every declarative builder in the registry)."""
    key = (id(spark), sf_dir, name)
    df = _T_CACHE.get(key)
    if df is None:
        df = _T_CACHE[key] = spark.read.parquet(
            os.path.join(sf_dir, f"{name}.parquet")
        )
    return df


def _sec(col) -> F.Column:
    """Timezone-INDEPENDENT epoch seconds of a wall-clock value: pure
    NTZ field extraction (see ``functions.scalars.ntz_epoch_us``).
    ``cast(x as timestamp)`` would interpret the wall time in the
    DRIVER'S session timezone — an environment this repo does not
    control (the round-3 ``pruned_scan`` failure mode) — and so does
    ``timestamp_diff`` on NTZ operands (coerced through the session tz;
    breaks across DST transitions)."""
    from acoustic_feature_extractor_spark.functions.scalars import ntz_epoch_sec

    c = F.col(col) if isinstance(col, str) else col
    return ntz_epoch_sec(c)


def _ts_sec(col: str = "ts") -> F.Column:
    return F.round(_sec(col), 6)


def _indexed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + per-user turn index (row_number over (ts, event_id)) —
    casts events into the engine's transcripts shape."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.withColumn("idx", (F.row_number().over(w) - 1).cast("long"))

_IDX_SQL = """
  SELECT user_id, event_id, ts, value, event_type,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
  FROM events
"""


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full turn-feature pipeline over the synthetic transcripts
    table (sf0.001-scaled) — windows + sessionization + fill + stats."""
    from acoustic_feature_extractor_spark.datagen import generate_transcripts
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    t = generate_transcripts(spark, n_convs=200)
    return turn_features(t)


# --------------------------------------------------------------------------
# queries — temporal pack (events as the entity×timestamp stream)
# --------------------------------------------------------------------------

def q_flagship_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("idx")
    d = win_ops.with_context_features(d, ["event_type"], key="user_id", order="idx")
    d = d.withColumn(
        "dt_prev_sec",
        F.round(_sec("ts") - F.lag(_sec("ts")).over(w), 6),
    )
    d = win_ops.degenerate(d, "value", frame_length=5, aggs=("mean",), key="user_id", order="idx")
    d = sess_ops.sessionize(d, gap_seconds=3600.0, key="user_id", ts="ts", order="idx")
    st = stats_ops.corpus_stats(d, "value").select("mean", "stddev")
    d = d.crossJoin(F.broadcast(st))
    return d.select(
        "user_id",
        "event_id",
        "idx",
        F.col("prev_event_type"),
        F.col("next_event_type"),
        "dt_prev_sec",
        F.round("value_mean", 6).alias("roll_val_mean"),
        F.col("session_id").cast("long").alias("session_id"),
        F.round((F.col("value") - F.col("mean")) / F.col("stddev"), 6).alias("value_z"),
    )


_SQL_FLAGSHIP = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT *,
    lag(event_type) OVER w AS prev_event_type,
    lead(event_type) OVER w AS next_event_type,
    round(epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0) OVER w, 6) AS dt_prev_sec,
    avg(value) OVER (PARTITION BY user_id ORDER BY idx ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS roll_mean,
    CASE WHEN epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0) OVER w > 3600.0 THEN 1 ELSE 0 END AS is_new
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY idx)
),
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY idx) AS session_id FROM d
),
g AS (SELECT avg(value) AS gm, stddev_pop(value) AS gs FROM events)
SELECT user_id, event_id, idx, prev_event_type, next_event_type, dt_prev_sec,
       round(roll_mean, 6) AS roll_val_mean,
       CAST(session_id AS BIGINT) AS session_id,
       round((value - gm)/gs, 6) AS value_z
FROM s, g
"""


def q_lag_lead_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    d = win_ops.with_context_features(
        d, ["event_type", "value"], key="user_id", order="idx", defaults={"event_type": "none"}
    )
    return d.select(
        "user_id",
        "event_id",
        "idx",
        "prev_event_type",
        "next_event_type",
        F.round("prev_value", 6).alias("prev_value"),
        F.round("next_value", 6).alias("next_value"),
    )


_SQL_LAG_LEAD = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       coalesce(lag(event_type) OVER w, 'none') AS prev_event_type,
       coalesce(lead(event_type) OVER w, 'none') AS next_event_type,
       round(lag(value) OVER w, 6) AS prev_value,
       round(lead(value) OVER w, 6) AS next_value
FROM base WINDOW w AS (PARTITION BY user_id ORDER BY idx)
"""


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    d = win_ops.degenerate(d, "value", frame_length=5, key="user_id", order="idx")
    return d.select(
        "user_id",
        "event_id",
        "idx",
        F.round("value_min", 6).alias("roll_min"),
        F.round("value_max", 6).alias("roll_max"),
        F.round("value_mean", 6).alias("roll_mean"),
        F.round("value_median", 6).alias("roll_median"),
    )


_SQL_ROLLING = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       round(min(value) OVER w, 6) AS roll_min,
       round(max(value) OVER w, 6) AS roll_max,
       round(avg(value) OVER w, 6) AS roll_mean,
       round(quantile_cont(value, 0.5) OVER w, 6) AS roll_median
FROM base WINDOW w AS (PARTITION BY user_id ORDER BY idx ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


def q_rolling_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degeneration with hop (downsample): output rate = rate/hop
    (``sampling_data.py:172-175``)."""
    d = _indexed_events(spark, sf_dir)
    d = win_ops.degenerate(
        d, "value", frame_length=4, hop_length=2, aggs=("min", "max", "mean"),
        key="user_id", order="idx",
    )
    return d.select(
        "user_id",
        "event_id",
        "idx",
        F.round("value_min", 6).alias("roll_min"),
        F.round("value_max", 6).alias("roll_max"),
        F.round("value_mean", 6).alias("roll_mean"),
    )


_SQL_ROLLING_HOP = f"""
WITH base AS ({_IDX_SQL}),
r AS (
  SELECT user_id, event_id, idx,
         round(min(value) OVER w, 6) AS roll_min,
         round(max(value) OVER w, 6) AS roll_max,
         round(avg(value) OVER w, 6) AS roll_mean
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY idx ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
)
SELECT * FROM r WHERE idx % 2 = 0
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    d = sess_ops.sessionize(d, gap_seconds=3600.0, key="user_id", ts="ts", order="idx")
    return d.select("user_id", "event_id", "idx", F.col("session_id").cast("long").alias("session_id"))


_SQL_SESSIONIZE = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT user_id, event_id, idx,
         CASE WHEN epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0)
              OVER (PARTITION BY user_id ORDER BY idx) > 3600.0 THEN 1 ELSE 0 END AS is_new
  FROM base
)
SELECT user_id, event_id, idx,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY idx) AS BIGINT) AS session_id
FROM d
"""


def q_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, session) summary: the sessionizer's cumsum ids feed one
    partial/final aggregate — duration, size, value stats, and distinct
    event types per session. Sessionize + rollup share the single user_id
    exchange (the aggregation keys are a superset of the window key)."""
    d = _indexed_events(spark, sf_dir)
    d = sess_ops.sessionize(d, gap_seconds=3600.0, key="user_id", ts="ts", order="idx")
    g = d.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.max(_sec("ts")) - F.min(_sec("ts")), 6).alias("duration_sec"),
        F.round(F.sum("value"), 6).alias("sum_v"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )
    return g.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        "duration_sec",
        "sum_v",
        "n_types",
    )


_SQL_SESSION_ROLLUP = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT user_id, event_id, idx, ts, value, event_type,
         CASE WHEN epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0)
              OVER (PARTITION BY user_id ORDER BY idx) > 3600.0 THEN 1 ELSE 0 END AS is_new
  FROM base
),
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY idx) AS session_id
  FROM d
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(max(epoch_us(ts)/1000000.0) - min(epoch_us(ts)/1000000.0), 6) AS duration_sec,
       ROUND(sum(value), 6) AS sum_v,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM s GROUP BY user_id, session_id
"""


def q_session_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    d = sess_ops.sessionize(d, gap_seconds=3600.0, key="user_id", ts="ts", order="idx")
    b = sess_ops.session_bounds(d, key="user_id", session_col="session_id", ts="ts")
    return b.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.round(_sec("session_start"), 6).alias("start_sec"),
        F.round(_sec("session_end"), 6).alias("end_sec"),
        F.col("n_turns").cast("long").alias("n_turns"),
    )


_SQL_SESSION_BOUNDS = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT *, CASE WHEN epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0)
            OVER (PARTITION BY user_id ORDER BY idx) > 3600.0 THEN 1 ELSE 0 END AS is_new
  FROM base
),
s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY idx) AS session_id FROM d)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       round(min(epoch_us(ts)/1000000.0), 6) AS start_sec,
       round(max(epoch_us(ts)/1000000.0), 6) AS end_sec,
       CAST(count(*) AS BIGINT) AS n_turns
FROM s GROUP BY user_id, session_id
"""


def q_run_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir).withColumn("is_err", F.col("event_type") == "error")
    d = sess_ops.run_boundaries(d, "is_err", key="user_id", order="idx")
    return d.select(
        "user_id", "event_id", "idx", "is_change", F.col("run_id").cast("long").alias("run_id")
    )


_SQL_RUN_BOUNDARIES = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT user_id, event_id, idx, (event_type = 'error') AS is_err,
         lag(event_type = 'error') OVER (PARTITION BY user_id ORDER BY idx) AS prev_err
  FROM base
),
c AS (
  SELECT user_id, event_id, idx,
         (prev_err IS NULL OR prev_err <> is_err) AS is_change
  FROM d
)
SELECT user_id, event_id, idx, is_change,
       CAST(sum(CASE WHEN is_change THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY idx) AS BIGINT) AS run_id
FROM c
"""


def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir).withColumn(
        "good_value", F.when(F.col("event_type") != "error", F.col("value"))
    )
    d = fill_ops.forward_fill(d, "good_value", key="user_id", order="idx", out_col="last_good")
    return d.select("user_id", "event_id", "idx", F.round("last_good", 6).alias("last_good"))


_SQL_FFILL = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       AS last_good
FROM base
"""


def q_interp_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across masked rows — the unvoiced-fill analog
    (``f0.py:70-83``): 'error' rows are missing, filled between neighbors."""
    d = _indexed_events(spark, sf_dir).withColumn(
        "good_value", F.when(F.col("event_type") != "error", F.col("value"))
    )
    d = fill_ops.interpolate_fill(d, "good_value", key="user_id", order="idx", out_col="filled")
    return d.select("user_id", "event_id", "idx", F.round("filled", 6).alias("filled"))


_SQL_INTERP = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT user_id, event_id, idx,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM base
),
f AS (
  SELECT user_id, event_id, idx, v,
    last_value(v IGNORE NULLS) OVER wp AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN CAST(idx AS DOUBLE) END IGNORE NULLS) OVER wp AS pi,
    first_value(v IGNORE NULLS) OVER wn AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN CAST(idx AS DOUBLE) END IGNORE NULLS) OVER wn AS ni
  FROM d
  WINDOW wp AS (PARTITION BY user_id ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id, idx,
       round(CASE WHEN v IS NOT NULL THEN v
                  ELSE coalesce(pv + (nv - pv) * (CAST(idx AS DOUBLE) - pi) / (ni - pi), pv, nv)
             END, 6) AS filled
FROM f
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click sees the latest view at or before it
    (zero temporal leakage — the engine's core J5 semantics)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("vvalue"))
    )
    j = asof_ops.asof_join(clicks, views, on="ts", by="user_id", right_cols=["vvalue"])
    return j.select(
        "user_id",
        "event_id",
        _ts_sec("ts").alias("ts_sec"),
        F.round("vvalue_asof", 6).alias("view_value"),
        F.round(_sec("ts_asof"), 6).alias("view_ts_sec"),
    )


_SQL_ASOF_SALTED = """
WITH v AS (
  SELECT user_id, ts, max(value) AS vvalue FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT c.user_id, c.event_id,
       round(epoch_us(c.ts)/1000000.0, 6) AS ts_sec,
       round(v.vvalue, 6) AS view_value,
       round(epoch_us(v.ts)/1000000.0, 6) AS view_ts_sec
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""

_SQL_ASOF = """
WITH v AS (
  SELECT user_id, ts, max(value) AS vvalue FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT c.user_id, c.event_id,
       round(epoch_us(c.ts)/1000000.0, 6) AS ts_sec,
       round(v.vvalue, 6) AS view_value,
       round(epoch_us(v.ts)/1000000.0, 6) AS view_ts_sec
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same point-in-time semantics as ``asof_join`` but through the
    salted two-phase carry path (north_star centerpiece); the oracle is
    the plain ASOF JOIN — salting must be invisible. Default engine:
    ``asof_join_salted_jvm`` (union trick + chunk carry, zero Python);
    the Arrow merge_asof variant stays pytest-pinned to the same frames.
    Full input scope — no rescoping; the JVM path costs ~the plain join."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("vvalue"))
    )
    j = asof_ops.asof_join_salted_jvm(
        clicks, views, on="ts", by="user_id", right_cols=["vvalue"],
        chunk_seconds=86400.0,
    )
    return j.select(
        "user_id",
        "event_id",
        _ts_sec("ts").alias("ts_sec"),
        F.round("vvalue_asof", 6).alias("view_value"),
        F.round(_sec("ts_asof"), 6).alias("view_ts_sec"),
    )


def q_resample_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-grid nearest resample, ratio 2 (downsample) — J5 with the
    reference's jitter pinned to 0 (``sampling_data.py:29-42``)."""
    d = _indexed_events(spark, sf_dir).select("user_id", "idx", "value")
    r = asof_ops.resample_grid(
        d, src_rate=2.0, dst_rate=1.0, value_cols=["value"], key="user_id", index_col="idx"
    )
    return r.select(
        "user_id", F.col("idx").cast("long").alias("idx"), F.round("value", 6).alias("value")
    )


_SQL_RESAMPLE_NEAREST = f"""
WITH base AS ({_IDX_SQL}),
n AS (SELECT user_id, max(idx) + 1 AS n FROM base GROUP BY user_id),
grid AS (
  SELECT user_id, CAST(i AS BIGINT) AS idx
  FROM n, unnest(generate_series(0, CAST(floor(n / 2.0) AS BIGINT) - 1)) AS t(i)
)
SELECT g.user_id, g.idx, round(b.value, 6) AS value
FROM grid g LEFT JOIN base b ON b.user_id = g.user_id AND b.idx = 2 * g.idx
"""


def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kind resample, ratio 0.5 (upsample ×2) — ``sampling_data.py:43-50``."""
    d = _indexed_events(spark, sf_dir).select("user_id", "idx", "value")
    r = asof_ops.resample_grid(
        d, src_rate=1.0, dst_rate=2.0, value_cols=["value"], key="user_id", index_col="idx",
        kind="linear",
    )
    return r.select(
        "user_id", F.col("idx").cast("long").alias("idx"), F.round("value", 6).alias("value")
    )


_SQL_RESAMPLE_LINEAR = f"""
WITH base AS ({_IDX_SQL}),
n AS (SELECT user_id, max(idx) + 1 AS n FROM base GROUP BY user_id),
grid AS (
  SELECT user_id, CAST(i AS BIGINT) AS idx, i * 0.5 AS pos,
         CAST(floor(i * 0.5) AS BIGINT) AS lo, CAST(ceil(i * 0.5) AS BIGINT) AS hi,
         i * 0.5 - floor(i * 0.5) AS frac
  FROM n, unnest(generate_series(0, CAST(floor(n / 0.5) AS BIGINT) - 1)) AS t(i)
)
SELECT g.user_id, g.idx,
       round(blo.value + (coalesce(bhi.value, blo.value) - blo.value) * g.frac, 6) AS value
FROM grid g
LEFT JOIN base blo ON blo.user_id = g.user_id AND blo.idx = g.lo
LEFT JOIN base bhi ON bhi.user_id = g.user_id AND bhi.idx = g.hi
"""


def q_multi_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source alignment (``SamplingData.collect`` analog): click grid
    + as-of'd view and purchase values side by side (mode=first)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    ).groupBy("user_id", "ts").agg(F.max("click_value").alias("click_value"))
    views = ev.where(F.col("event_type") == "view").groupBy("user_id", "ts").agg(
        F.max("value").alias("view_value")
    )
    purchases = ev.where(F.col("event_type") == "purchase").groupBy("user_id", "ts").agg(
        F.max("value").alias("purchase_value")
    )
    a = asof_ops.align_sources(
        [clicks, views, purchases],
        on="ts",
        by="user_id",
        value_cols=[["click_value"], ["view_value"], ["purchase_value"]],
        mode="first",
    )
    return a.select(
        "user_id",
        _ts_sec("ts").alias("ts_sec"),
        F.round("click_value", 6).alias("click_value"),
        F.round("view_value_s1", 6).alias("view_value"),
        F.round("purchase_value_s2", 6).alias("purchase_value"),
    )


_SQL_MULTI_ALIGN = """
WITH c AS (
  SELECT user_id, ts, max(value) AS click_value FROM events WHERE event_type='click' GROUP BY user_id, ts
),
v AS (SELECT user_id, ts, max(value) AS view_value FROM events WHERE event_type='view' GROUP BY user_id, ts),
p AS (SELECT user_id, ts, max(value) AS purchase_value FROM events WHERE event_type='purchase' GROUP BY user_id, ts),
cv AS (
  SELECT c.user_id, c.ts, c.click_value, v.view_value
  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
)
SELECT cv.user_id, round(epoch_us(cv.ts)/1000000.0, 6) AS ts_sec,
       round(cv.click_value, 6) AS click_value,
       round(cv.view_value, 6) AS view_value,
       round(p.purchase_value, 6) AS purchase_value
FROM cv ASOF LEFT JOIN p ON cv.user_id = p.user_id AND cv.ts >= p.ts
"""


def q_multi_align_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source alignment, mode="max" (``sampling_data.py:111-121``):
    the grid is the UNION of all sources' timestamps (pad-to-longest) and
    every source zero-fills outside its own span — the reference's
    numpy.pad behavior recast as full-outer grid + as-of + capped fill."""
    ev = _t(spark, sf_dir, "events")
    mk = lambda et, alias: (  # noqa: E731
        ev.where(F.col("event_type") == et)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias(alias))
    )
    clicks = mk("click", "click_value")
    views = mk("view", "view_value")
    purchases = mk("purchase", "purchase_value")
    a = asof_ops.align_sources(
        [clicks, views, purchases],
        on="ts",
        by="user_id",
        value_cols=[["click_value"], ["view_value"], ["purchase_value"]],
        mode="max",
    )
    return a.select(
        "user_id",
        _ts_sec("ts").alias("ts_sec"),
        F.round("click_value_s0", 6).alias("click_value"),
        F.round("view_value_s1", 6).alias("view_value"),
        F.round("purchase_value_s2", 6).alias("purchase_value"),
    )


_SQL_MULTI_ALIGN_MAX = """
WITH c AS (
  SELECT user_id, ts, max(value) AS click_value FROM events WHERE event_type='click' GROUP BY user_id, ts
),
v AS (SELECT user_id, ts, max(value) AS view_value FROM events WHERE event_type='view' GROUP BY user_id, ts),
p AS (SELECT user_id, ts, max(value) AS purchase_value FROM events WHERE event_type='purchase' GROUP BY user_id, ts),
grid AS (
  SELECT user_id, ts FROM c UNION SELECT user_id, ts FROM v UNION SELECT user_id, ts FROM p
),
ce AS (SELECT user_id, max(ts) AS e FROM c GROUP BY user_id),
ve AS (SELECT user_id, max(ts) AS e FROM v GROUP BY user_id),
pe AS (SELECT user_id, max(ts) AS e FROM p GROUP BY user_id),
g1 AS (
  SELECT g.user_id, g.ts, c.click_value
  FROM grid g ASOF LEFT JOIN c ON g.user_id = c.user_id AND g.ts >= c.ts
),
g2 AS (
  SELECT g.user_id, g.ts, g.click_value, v.view_value
  FROM g1 g ASOF LEFT JOIN v ON g.user_id = v.user_id AND g.ts >= v.ts
),
g3 AS (
  SELECT g.user_id, g.ts, g.click_value, g.view_value, p.purchase_value
  FROM g2 g ASOF LEFT JOIN p ON g.user_id = p.user_id AND g.ts >= p.ts
)
SELECT g.user_id, round(epoch_us(g.ts)/1000000.0, 6) AS ts_sec,
       round(CASE WHEN g.ts <= ce.e AND g.click_value IS NOT NULL THEN g.click_value ELSE 0.0 END, 6) AS click_value,
       round(CASE WHEN g.ts <= ve.e AND g.view_value IS NOT NULL THEN g.view_value ELSE 0.0 END, 6) AS view_value,
       round(CASE WHEN g.ts <= pe.e AND g.purchase_value IS NOT NULL THEN g.purchase_value ELSE 0.0 END, 6) AS purchase_value
FROM g3 g
LEFT JOIN ce ON g.user_id = ce.user_id
LEFT JOIN ve ON g.user_id = ve.user_id
LEFT JOIN pe ON g.user_id = pe.user_id
"""


# --------------------------------------------------------------------------
# queries — aggregation pack
# --------------------------------------------------------------------------

def q_stats_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    st = stats_ops.corpus_stats(ev, "value")
    out = stats_ops.normalize(ev, "value", st)
    return out.select(
        "event_id", F.round("value_norm", 6).alias("value_norm")
    )


_SQL_STATS_NORMALIZE = """
WITH g AS (SELECT avg(value) AS m, stddev_pop(value) AS s FROM events)
SELECT event_id, round((value - m) / s, 6) AS value_norm FROM events, g
"""


def q_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = stats_ops.corpus_stats(ev, "value", group_cols=["event_type"])
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("mean", 6).alias("mean"),
        F.round("var", 6).alias("var"),
        F.round("min", 6).alias("vmin"),
        F.round("max", 6).alias("vmax"),
    )


_SQL_GROUPED_STATS = """
SELECT event_type, CAST(count(value) AS BIGINT) AS n,
       round(avg(value), 6) AS mean, round(var_pop(value), 6) AS var,
       round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
FROM events GROUP BY event_type
"""


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-vocabulary pivot (crosstab): docs per source × language.
    The value list is PINNED (no pivot-discovery pre-job — at 100 TB the
    implicit distinct scan is the hidden cost of bare ``pivot()``), so
    the whole crosstab is one partial/final aggregate."""
    d = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    p = d.groupBy("source").pivot("lang", langs).count()
    return p.select(
        "source",
        *[
            F.coalesce(F.col(l), F.lit(0)).cast("long").alias(f"n_{l}")
            for l in langs
        ],
    )


_SQL_PIVOT_COUNTS = """
SELECT source,
       count(*) FILTER (WHERE lang = 'de') AS n_de,
       count(*) FILTER (WHERE lang = 'en') AS n_en,
       count(*) FILTER (WHERE lang = 'es') AS n_es,
       count(*) FILTER (WHERE lang = 'fr') AS n_fr,
       count(*) FILTER (WHERE lang = 'zh') AS n_zh
FROM documents GROUP BY source
"""


def q_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets CUBE over (event_type, cohort) with subtotal rows
    identified by grouping_id — one aggregation pass computes every
    marginal (Catalyst expands the sets map-side, no re-scan per level)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", F.pmod("user_id", F.lit(4)).cast("long")
    )
    c = ev.cube("event_type", "cohort").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_v"),
    )
    return c.select("event_type", "cohort", "gid", "n", "sum_v")


_SQL_CUBE_STATS = """
SELECT event_type, CAST(user_id % 4 AS BIGINT) AS cohort,
       CAST(GROUPING(event_type, user_id % 4) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v
FROM events GROUP BY CUBE(event_type, user_id % 4)
"""


def q_percentile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    r = pct_ops.percentile_report(ev, "value", qs=qs, exact=True)
    return r.select(F.round("q", 6).alias("q"), F.round("value", 6).alias("value"))


_SQL_PERCENTILES = """
WITH v AS (
  SELECT quantile_cont(value, [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]) AS vals FROM events
),
qarr AS (SELECT [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]::DOUBLE[] AS qs)
SELECT round(qs[i], 6) AS q, round(vals[i], 6) AS value
FROM v, qarr, unnest(generate_series(1, 8)) AS t(i)
"""


def q_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted percentile via window cumsum (``extract_f0_range.py:113-150``);
    weights pre-aggregated per distinct value so tie order can't differ."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum("l_quantity").alias("w")
    )
    r = pct_ops.weighted_percentile(d, "v", "w", qs=[0.1, 0.5, 0.9])
    return r.select(F.round("q", 6).alias("q"), F.round("value", 6).alias("value"))


_SQL_WEIGHTED_PCT = """
WITH d AS (SELECT l_extendedprice AS v, CAST(sum(l_quantity) AS DOUBLE) AS w FROM lineitem GROUP BY 1),
c AS (
  SELECT v, w,
         sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER () AS total
  FROM d
),
m AS (SELECT v, (cw - w/2) / total AS mid FROM c),
seg AS (
  SELECT v, mid,
         lead(mid) OVER (ORDER BY mid, v) AS nmid,
         lead(v) OVER (ORDER BY mid, v) AS nv,
         min(v) OVER () AS minv, max(v) OVER () AS maxv,
         min(mid) OVER () AS minmid, max(mid) OVER () AS maxmid
  FROM m
),
qs AS (SELECT unnest([0.1, 0.5, 0.9]) AS q)
SELECT round(q, 6) AS q,
       round(min(CASE WHEN q <= minmid THEN minv
                      WHEN q >= maxmid THEN maxv
                      ELSE v + (nv - v) * (q - mid) / (nmid - mid) END), 6) AS value
FROM qs JOIN seg
  ON (mid <= q AND q < coalesce(nmid, 1e308))
  OR (q < minmid AND mid = minmid)
  OR (q >= maxmid AND mid = maxmid)
GROUP BY q
"""


def q_histogram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram vote filter (``extract_f0_range.py:204-213``): summary of
    surviving rows after dropping low-mass log-space bins."""
    li = _t(spark, sf_dir, "lineitem")
    kept = pct_ops.histogram_vote_filter(
        li, "l_extendedprice", weight_col="l_quantity", n_bins=50, min_mass=0.003
    )
    return kept.agg(
        F.count("*").cast("long").alias("n_kept"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
    )


_SQL_HISTOGRAM = """
WITH d AS (
  SELECT l_extendedprice AS v, CAST(l_quantity AS DOUBLE) AS w, ln(l_extendedprice) AS lv
  FROM lineitem
),
rng AS (SELECT min(lv) AS lo, max(lv) AS hi FROM d),
b AS (
  SELECT v, w, least(49, CAST(floor((lv - lo) / ((hi - lo) / 50)) AS INT)) AS bin
  FROM d, rng
),
mass AS (SELECT bin, sum(w) AS m FROM b GROUP BY bin),
tot AS (SELECT sum(w) AS t FROM b),
keep AS (SELECT bin FROM mass, tot WHERE m / t >= 0.003)
SELECT CAST(count(*) AS BIGINT) AS n_kept, round(avg(v), 6) AS avg_price
FROM b JOIN keep USING (bin)
"""


def q_all_same_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    kept = stats_ops.all_same_filter(li, "l_discount", key="l_orderkey")
    return kept.select(F.col("l_orderkey").cast("long")).distinct()


_SQL_ALL_SAME = """
SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS l_orderkey FROM lineitem
WHERE l_orderkey NOT IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING min(l_discount) = max(l_discount)
)
"""


def _rollup_export(r: DataFrame, key: str) -> DataFrame:
    return r.select(
        F.col(key).cast("long").alias(key),
        F.round(_sec("bucket"), 6).alias("bucket_sec"),
        F.col("n").cast("long").alias("n"),
        F.round("sum_v", 6).alias("sum_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round(_sec("first_ts"), 6).alias("first_ts_sec"),
        F.round(_sec("last_ts"), 6).alias("last_ts_sec"),
        F.round("avg_v", 6).alias("avg_v"),
    )


def q_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: per-(user, hour-bucket) decomposable summaries.
    One partial/final groupBy — the shuffle carries one row per (user,
    bucket) per task, never raw events."""
    ev = _t(spark, sf_dir, "events")
    return _rollup_export(
        rollup_ops.rollup(ev, 3600.0, by="user_id", value_col="value"), "user_id"
    )


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade: the DAY rollup is re-aggregated from
    the HOUR rollup — the fact table is scanned exactly once. The oracle
    computes days DIRECTLY from raw events, proving the cascade
    lossless (count/sum/min/max decompose; avg finalizes from sum+n)."""
    ev = _t(spark, sf_dir, "events")
    hourly = rollup_ops.rollup(ev, 3600.0, by="user_id", value_col="value")
    daily = rollup_ops.rollup_coarser(hourly, 86400.0, by="user_id", fine_seconds=3600.0)
    return _rollup_export(daily, "user_id")


def _sql_rollup(width: int) -> str:
    return f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor(epoch_us(ts) / 1000000.0 / {width}) * {width} AS DOUBLE) AS bucket_sec,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v,
       ROUND(min(value), 6) AS min_v,
       ROUND(max(value), 6) AS max_v,
       ROUND(epoch_us(min(ts)) / 1000000.0, 6) AS first_ts_sec,
       ROUND(epoch_us(max(ts)) / 1000000.0, 6) AS last_ts_sec,
       ROUND(sum(value) / count(*), 6) AS avg_v
FROM events GROUP BY 1, 2
"""


_SQL_ROLLUP_HOURLY = _sql_rollup(3600)
_SQL_ROLLUP_CASCADE = _sql_rollup(86400)


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted exact top-k (win_ops.topk_per_group): phase 1
    ranks inside (group, salt-bucket) so no task holds a whole mega
    group, phase 2 re-ranks ≤ salt×k survivors — oracle is the plain
    single-window SQL, proving the salting exact."""
    li = _t(spark, sf_dir, "lineitem")
    out = win_ops.topk_per_group(
        li,
        "l_returnflag",
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=3,
    )
    return out.select(
        "l_returnflag",
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_TOPK = """
SELECT l_returnflag, CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    s = sample_ops.stratified_entity_sample(cu, max_entities=100, key="c_custkey")
    return s.select(F.col("c_custkey").cast("long").alias("c_custkey"))


_SQL_STRATIFIED = """
WITH r AS (
  SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS rk,
         (SELECT count(*) FROM customer) / 100.0 AS step
  FROM customer
)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM r
WHERE floor(rk / step) <> floor((rk - 1) / step)
"""


def q_keyset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-set validation (O4 analog): customers with no orders."""
    cu = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cu.join(orders, cu.c_custkey == orders.o_custkey, "left_anti")
        .select(F.col("c_custkey").cast("long").alias("c_custkey"))
    )


_SQL_KEYSET_DIFF = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape; money sums through DECIMAL(18,2) for exactness."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    g = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("_sq"),
            F.sum(dec("l_extendedprice")).alias("_sbp"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).alias("_sdp"),
            F.count("*").alias("_n"),
            F.avg("l_quantity").alias("_aq"),
            F.avg("l_discount").alias("_ad"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.round("_aq", 6).alias("avg_qty"),
        F.round("_ad", 6).alias("avg_disc"),
        F.col("_n").cast("long").alias("count_order"),
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join with broadcast dims (J1/J7 shape at TPC-H scale)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    g = j.groupBy("r_name", "n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
        F.count("*").alias("_n"),
    )
    return g.select(
        "r_name",
        "n_name",
        F.col("_rev").cast("double").alias("revenue"),
        F.col("_n").cast("long").alias("n_orders"),
    )


_SQL_REVENUE_NATION = """
SELECT r_name, n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
# queries — intervals
# --------------------------------------------------------------------------

def q_interval_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval → dense grid with position features (W3,
    ``linguistic_feature.py:129-150``)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_orderkey") % 97 == 0) & (F.col("l_linenumber") == 1)
    )
    spans = li.select(
        F.col("l_orderkey").alias("okey"),
        F.lit(0.0).alias("start_s"),
        F.least(F.col("l_quantity"), F.lit(10.0)).alias("end_s"),
    )
    g = interval_ops.expand_spans_to_grid(
        spans, rate=1.0, key="okey", start_col="start_s", end_col="end_s", payload_cols=[]
    )
    return g.select(
        F.col("okey").cast("long").alias("okey"),
        F.col("grid_idx").cast("long").alias("grid_idx"),
        F.round("pos_in", 6).alias("pos_in"),
        F.round("pos_out", 6).alias("pos_out"),
    )


_SQL_INTERVAL_EXPAND = """
WITH spans AS (
  SELECT l_orderkey AS okey, CAST(0.0 AS DOUBLE) AS start_s,
         CAST(least(l_quantity, 10.0) AS DOUBLE) AS end_s
  FROM lineitem WHERE l_orderkey % 97 = 0 AND l_linenumber = 1
)
SELECT CAST(okey AS BIGINT) AS okey, CAST(i AS BIGINT) AS grid_idx,
       round(CAST(i AS DOUBLE) - start_s, 6) AS pos_in, round(end_s - CAST(i AS DOUBLE), 6) AS pos_out
FROM spans, unnest(generate_series(CAST(round(start_s) AS BIGINT), CAST(round(end_s) AS BIGINT))) AS t(i)
"""


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (J4 shape): urgent vs high-priority order
    windows of the same customer that overlap in time."""
    o = _t(spark, sf_dir, "orders")
    mk = lambda prio: (  # noqa: E731
        o.where(F.col("o_orderpriority") == prio).select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("okey"),
            _sec("o_orderdate").alias("start_s"),
            (_sec("o_orderdate") + 7 * 86400).alias("end_s"),
        )
    )
    left, right = mk("1-URGENT"), mk("2-HIGH")
    j = interval_ops.overlap_join(
        left, right, key="custkey", l_start="start_s", l_end="end_s",
        r_start="start_s", r_end="end_s", suffix="_r",
    )
    return j.select(
        F.col("custkey").cast("long").alias("custkey"),
        F.col("okey").cast("long").alias("l_okey"),
        F.col("okey_r").cast("long").alias("r_okey"),
    )


_SQL_INTERVAL_OVERLAP = """
WITH l AS (
  SELECT o_custkey AS custkey, o_orderkey AS okey,
         epoch_us(o_orderdate)/1000000.0 AS start_s,
         epoch_us(o_orderdate)/1000000.0 + 7*86400 AS end_s
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
r AS (
  SELECT o_custkey AS custkey, o_orderkey AS okey,
         epoch_us(o_orderdate)/1000000.0 AS start_s,
         epoch_us(o_orderdate)/1000000.0 + 7*86400 AS end_s
  FROM orders WHERE o_orderpriority = '2-HIGH'
)
SELECT CAST(l.custkey AS BIGINT) AS custkey,
       CAST(l.okey AS BIGINT) AS l_okey, CAST(r.okey AS BIGINT) AS r_okey
FROM l JOIN r ON l.custkey = r.custkey AND l.start_s < r.end_s AND r.start_s < l.end_s
"""


# --------------------------------------------------------------------------
# queries — documents / embeddings / multimodal
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup(d).select(F.col("doc_id").cast("long").alias("doc_id"))


_SQL_DEDUP_EXACT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-join near-dup with the hot-shingle cap ON (max_doc_freq):
    shingles shared by >20% of the corpus are banned from candidate
    generation AND from the Jaccard sets — the classic LSH move that
    bounds join fan-out at web scale. The oracle applies the same cap.
    The cap is the FRACTIONAL form — greatest(floor(0.2·n), 10) resolved
    inside the plan — so sizing it costs zero extra driver jobs."""
    d = _t(spark, sf_dir, "documents")
    p = dedup_ops.ngram_jaccard_pairs(d, w=3, threshold=0.8, max_doc_freq=0.2)
    return p.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_SQL_NGRAM_JACCARD = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS t(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
"""


# same shingle pipeline with the hot-shingle document-frequency cap the
# Spark query applies (max_doc_freq = max(N/5, 10)) — capped shingles are
# excluded from candidates AND from the Jaccard sets on both engines
_SQL_NGRAM_JACCARD_CAPPED = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS t(i)
),
hot AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) > (SELECT greatest(CAST(floor(count(DISTINCT doc_id) / 5.0) AS BIGINT), 10)
                     FROM documents)
),
sh AS (
  SELECT s.doc_id, s.shingle FROM sh0 s
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.shingle = s.shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, oracled by the exact-Jaccard pair SQL.

    Banding at r=1 (32 bands of one hash each): a true pair at jaccard
    j ≥ 0.5 misses every band with probability (1-j)^32 ≤ 2.4e-10, and
    pytest asserts recall is exactly 1.0 on this fixture — so the LSH
    output (candidates → exact-Jaccard verify) EQUALS the exact pair set
    and the DuckDB exact SQL is a valid oracle. Production banding
    (r > 1, lower candidate volume) is pytest-equivalence-tested."""
    d = _t(spark, sf_dir, "documents")
    p = dedup_ops.minhash_lsh_pairs(d, w=3, num_hashes=32, bands=32, threshold=0.5)
    return p.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3), fully oracle-checked: the
    token hash is the SQL-portable 62-bit polynomial (exact int64
    arithmetic in both engines), so DuckDB recomputes the identical
    fingerprints and verifies the pigeonhole-banded pair search against
    its all-pairs bit_count(xor). The xxhash64 production variant is
    pytest-equivalence-tested."""
    d = _t(spark, sf_dir, "documents")
    p = dedup_ops.simhash_pairs(
        d, max_hamming=3, bits=62, hash_fn=dedup_ops.token_hash_portable
    )
    return p.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _simhash_sql() -> str:
    # bit-vote terms for each of the 62 fingerprint bits, built from the
    # same portable polynomial token hash the Spark side uses
    votes = ",\n         ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST(1 AS BIGINT) << {j} ELSE 0 END AS b{j}"
        for j in range(62)
    )
    fp = " | ".join(f"b{j}" for j in range(62))
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         CASE WHEN length(t) = 0 THEN 0 ELSE
           list_reduce(list_transform(generate_series(1, length(t)),
                                      i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
                       (acc, x) -> (acc * 31 + x) % 2147483647)
         END * (CAST(1 AS BIGINT) << 31)
         + CASE WHEN length(t) = 0 THEN 0 ELSE
           list_reduce(list_transform(generate_series(1, length(t)),
                                      i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
                       (acc, x) -> (acc * 131 + x) % 2147483629)
         END AS h
  FROM tok
),
bitsum AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp} AS simhash FROM bitsum)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    p = tx.document_profile(d)
    return p.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "punct_ratio",
        "stopword_ratio",
        "quality",
        "lang_guess",
        F.col("fingerprint").cast("long").alias("fingerprint"),
    )


_SQL_TEXT_PROFILE = r"""
WITH tok AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
fp AS (
  SELECT doc_id,
         CAST(sum(i * (length(toks[i]) * 256 + ascii(substring(toks[i], 1, 1)))) % 2147483647 AS BIGINT) AS fingerprint
  FROM tok, unnest(generate_series(1, len(toks))) AS t(i)
  GROUP BY doc_id
),
base AS (
  SELECT doc_id, text, toks,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct,
         len(list_intersect(toks, ['the','and','of','to','a','in','is','that','it','for'])) AS sw_en,
         len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','zu','den'])) AS sw_de,
         len(list_intersect(toks, ['le','la','les','et','des','est','pas','une','dans','que'])) AS sw_fr,
         len(list_intersect(toks, ['el','la','los','de','que','y','en','un','por','con'])) AS sw_es
  FROM tok
),
calc AS (
  SELECT doc_id, n_tokens,
         greatest(CAST(ceil(alpha_chars / 4.0) AS BIGINT), n_tokens) + digits + punct AS n_bpe_tokens,
         round(CAST(punct AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         round(sw_en / 10.0, 6) AS stopword_ratio,
         round((
            (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1.0 ELSE 0.3 END)
          + (CASE WHEN CAST(punct AS DOUBLE) / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.5 END)
          + least(sw_en / 10.0 * 2.0, 1.0)
         ) / 3.0, 6) AS quality,
         CASE WHEN greatest(sw_en, sw_de, sw_fr, sw_es) = 0 THEN 'und'
              WHEN sw_en = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'en'
              WHEN sw_de = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'de'
              WHEN sw_fr = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'fr'
              ELSE 'es' END AS lang_guess
  FROM base
)
SELECT CAST(calc.doc_id AS BIGINT) AS doc_id, n_tokens,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       punct_ratio, stopword_ratio, quality, lang_guess, fingerprint
FROM calc JOIN fp ON calc.doc_id = fp.doc_id
"""


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    r = sim_ops.cosine_topk(q, e, k=5)
    return r.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_ANN_BRUTEFORCE = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10)
SELECT CAST(qid AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT q.qid, e.vec_id,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY list_cosine_similarity(q.qe, e.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
  FROM embeddings e, q WHERE e.vec_id <> q.qid
) WHERE rank <= 5
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-outlier scoring: cosine of every vector to its OWN label
    centroid (unit-normalized per-label mean), flagging rows under the
    threshold — the embedding-space mislabel/curation gate. Centroids
    stay distributed (posexplode + map-combined partials), so the label
    space can be cluster-id-sized."""
    e = _t(spark, sf_dir, "embeddings")
    out = sim_ops.embedding_label_outliers(e, threshold=0.5)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        F.round("cos_centroid", 6).alias("cos_centroid"),
        "is_outlier",
    )


_SQL_EMBEDDING_OUTLIERS = """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT label, i AS dim, avg(v[i]) AS m
  FROM v, unnest(generate_series(1, len(v))) AS t(i)
  GROUP BY label, i
),
cent AS (
  SELECT label, list(m ORDER BY dim) AS c FROM dims GROUP BY label
),
cu AS (
  SELECT label,
         CASE WHEN sqrt(list_sum(list_transform(c, x -> x * x))) = 0 THEN c
              ELSE list_transform(c, x -> x / sqrt(list_sum(list_transform(c, x -> x * x))))
         END AS c
  FROM cent
),
scored AS (
  SELECT v.vec_id, v.label,
         CASE WHEN sqrt(list_sum(list_transform(v.v, x -> x * x)))
                   * sqrt(list_sum(list_transform(cu.c, x -> x * x))) = 0
              THEN NULL
              ELSE list_dot_product(v.v, cu.c)
                   / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(cu.c, x -> x * x))))
         END AS cos
  FROM v JOIN cu USING (label)
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
       ROUND(cos, 6) AS cos_centroid,
       COALESCE(cos < 0.5, TRUE) AS is_outlier
FROM scored
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN at FULL multi-probe: probing every bucket within
    Hamming n_planes of the query's bucket covers the whole table, so the
    bucketed candidate join provably returns the exact brute-force top-k —
    which makes the brute-force SQL a valid DuckDB oracle for the LSH
    machinery (bucketing, probe fan-out, per-bucket equi-join, top-k).
    Partial-probe recall (the production trade-off) is pytest-tested."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    r = sim_ops.cosine_topk_lsh(q, e, dim=64, k=5, n_planes=4, probe_hamming=4)
    return r.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


# IVF centroid memo (per sf_dir): trained once, reused across invocations
_IVF_CENTROIDS: dict[str, list] = {}


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN at FULL probe (n_probe = n_centroids): probing
    every inverted list degrades provably to exact brute force, so the
    brute-force SQL oracles the IVF machinery (centroid assignment,
    inverted-list join, probe union, top-k). Partial-probe recall is
    pytest-tested. Centroids are trained once per sf_dir and reused —
    the production shape (an IVF index is built once, queried many
    times; ``cosine_topk_ivf`` documents the caller-cached contract)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    cents = _IVF_CENTROIDS.get(sf_dir)
    if cents is None:
        cents = _IVF_CENTROIDS[sf_dir] = sim_ops.pick_centroids(e, n_centroids=8)
    r = sim_ops.cosine_topk_ivf(q, e, k=5, n_probe=8, centroids=cents)
    return r.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (VERDICT r3 #8): the at-rest IVF
    index is built on ⅔ of the corpus, the remaining ⅓ arrives later and
    is APPENDED into the partitioned inverted lists with the index's
    frozen centroids — no rebuild, IO ∝ the batch. Queried at FULL probe
    the maintained index provably degrades to exact brute force over the
    WHOLE corpus (the same oracle as ann_ivf), which is precisely the
    evidence that appended vectors landed in the right lists and are
    visible to the partition-pruned scan. Partial-probe parity vs a full
    rebuild is pytest-pinned (tests/test_similarity.py)."""
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    cents = _IVF_CENTROIDS.get(sf_dir)
    if cents is None:
        cents = _IVF_CENTROIDS[sf_dir] = sim_ops.pick_centroids(e, n_centroids=8)
    t = tempfile.mkdtemp(prefix="ivf_incr_")
    sim_ops.ivf_index_write(e.where(F.col("vec_id") % 3 != 0), t, cents)
    sim_ops.ivf_index_append(e.where(F.col("vec_id") % 3 == 0), t, cents)
    q = e.where(F.col("vec_id") < 10)
    r = sim_ops.cosine_topk_ivf_at_rest(spark, t, q, cents, k=5, n_probe=8)
    return r.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PARTIAL-probe ANN paths (the production trade-off)
    vs exact brute force, asserted against pinned floors — the quantified
    recall surface VERDICT r2 asked for. Four lanes: LSH multi-probe at
    Hamming 1 and 2 (of 4 planes: 5/16 and 11/16 of buckets scanned) and
    IVF at n_probe 2 and 4 (of 8 lists). Floors are pinned ≥0.1 below the
    worst macro recall measured across sf0.001/0.01/0.1 (lsh_h1 0.40,
    lsh_h2 0.48, ivf_p2 0.44, ivf_p4 0.70), so the booleans are stable
    data properties, not tautologies: a bucketing/probe regression flips
    them and the value hash breaks. Macro recall = total hits / (n_q * k),
    identical to mean per-query recall since every query has exactly k
    exact neighbors."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    exact = sim_ops.cosine_topk(q, e, k=5).select("query_id", "neighbor_id")
    cents = _IVF_CENTROIDS.get(sf_dir)
    if cents is None:
        cents = _IVF_CENTROIDS[sf_dir] = sim_ops.pick_centroids(e, n_centroids=8)
    lanes = [
        ("ivf_p2", sim_ops.cosine_topk_ivf(q, e, k=5, n_probe=2, centroids=cents), 0.30),
        ("ivf_p4", sim_ops.cosine_topk_ivf(q, e, k=5, n_probe=4, centroids=cents), 0.55),
        ("lsh_h1", sim_ops.cosine_topk_lsh(q, e, dim=64, k=5, n_planes=4, probe_hamming=1), 0.30),
        ("lsh_h2", sim_ops.cosine_topk_lsh(q, e, dim=64, k=5, n_planes=4, probe_hamming=2), 0.40),
    ]
    denom = q.count() * 5.0
    out = None
    for name, approx, floor in lanes:
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        )
        r = hits.agg(F.count("*").alias("_h")).select(
            F.lit(name).alias("method"),
            F.lit(5).cast("long").alias("k"),
            F.lit(float(floor)).alias("floor"),
            (F.col("_h") / F.lit(denom) >= F.lit(float(floor))).alias("recall_ok"),
        )
        out = r if out is None else out.unionByName(r)
    return out


_SQL_ANN_RECALL = """
SELECT 'ivf_p2' AS method, CAST(5 AS BIGINT) AS k, CAST(0.30 AS DOUBLE) AS floor, TRUE AS recall_ok
UNION ALL SELECT 'ivf_p4', 5, CAST(0.55 AS DOUBLE), TRUE
UNION ALL SELECT 'lsh_h1', 5, CAST(0.30 AS DOUBLE), TRUE
UNION ALL SELECT 'lsh_h2', 5, CAST(0.40 AS DOUBLE), TRUE
"""


_PQ_CODEBOOKS: dict[str, list] = {}


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF-PQ (similarity.cosine_topk_ivfpq): candidates from
    partial-probe inverted lists, scored from m=8 product-quantization
    codes (16× smaller at-rest scan than full dim-64 vectors) through a
    per-query lookup table, exact re-rank of the k·refine shortlist.
    Three lanes — probe 2 / probe 4 with refine, and probe 2 scored on
    codes alone — with floors pinned ≥0.1 below the worst macro recall
    measured across sf0.001/0.01/0.1, so the booleans are stable data
    properties a quantizer/probe regression would flip."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    exact = sim_ops.cosine_topk(q, e, k=5).select("query_id", "neighbor_id")
    cents = _IVF_CENTROIDS.get(sf_dir)
    if cents is None:
        cents = _IVF_CENTROIDS[sf_dir] = sim_ops.pick_centroids(e, n_centroids=8)
    books = _PQ_CODEBOOKS.get(sf_dir)
    if books is None:
        books = _PQ_CODEBOOKS[sf_dir] = sim_ops.pq_train(
            e, m=8, pq_k=16, n_iter=3
        )
    common = dict(k=5, m=8, pq_k=16, centroids=cents, codebooks=books)
    # worst macro recall measured across sf0.001/0.01/0.1:
    # p2_r8 0.40, p4_r8 0.50, p2 code-only 0.12 (the un-re-ranked lane is
    # the raw quantization quality — its floor mainly guards against a
    # broken LUT/scoring path, which lands at ~0)
    lanes = [
        ("pq_p2_r8", sim_ops.cosine_topk_ivfpq(q, e, n_probe=2, refine_factor=8, **common), 0.30),
        ("pq_p4_r8", sim_ops.cosine_topk_ivfpq(q, e, n_probe=4, refine_factor=8, **common), 0.40),
        ("pq_p2_code_only", sim_ops.cosine_topk_ivfpq(q, e, n_probe=2, refine_factor=None, **common), 0.02),
    ]
    denom = q.count() * 5.0
    out = None
    for name, approx, floor in lanes:
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        )
        r = hits.agg(F.count("*").alias("_h")).select(
            F.lit(name).alias("method"),
            F.lit(5).cast("long").alias("k"),
            F.lit(float(floor)).alias("floor"),
            (F.col("_h") / F.lit(denom) >= F.lit(float(floor))).alias("recall_ok"),
        )
        out = r if out is None else out.unionByName(r)
    return out


_SQL_ANN_IVFPQ = """
SELECT 'pq_p2_r8' AS method, CAST(5 AS BIGINT) AS k, CAST(0.30 AS DOUBLE) AS floor, TRUE AS recall_ok
UNION ALL SELECT 'pq_p4_r8', 5, CAST(0.40 AS DOUBLE), TRUE
UNION ALL SELECT 'pq_p2_code_only', 5, CAST(0.02 AS DOUBLE), TRUE
"""


def _sketch_export(est: DataFrame, exact: DataFrame) -> DataFrame:
    """Join the sketch rollup to the exact distinct and emit the contract
    row: exact values pass through (hash-comparable), the HLL estimate
    becomes an ``est_ok`` bound check (within max(1, 5%) of exact — ~6
    sigma for lgk=14's ~0.8% relative error, so a stable data property
    that a sketch/merge regression would flip)."""
    j = est.join(exact, ["event_type", "bucket"])
    return j.select(
        "event_type",
        F.round(_sec("bucket"), 6).alias("bucket_sec"),
        F.col("n").cast("long").alias("n"),
        F.col("d_exact").cast("long").alias("d_exact"),
        (
            F.abs(F.col("distinct_est") - F.col("d_exact"))
            <= F.greatest(F.lit(1.0), F.col("d_exact") * F.lit(0.05))
        ).alias("est_ok"),
    )


def _exact_distinct(ev: DataFrame, width: float) -> DataFrame:
    return (
        ev.withColumn("bucket", rollup_ops.time_bucket("ts", width))
        .groupBy("event_type", "bucket")
        .agg(F.countDistinct("user_id").alias("d_exact"))
    )


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count rollup (sketches.distinct_rollup):
    per-(event_type, hour) distinct users as an at-rest binary sketch —
    the COUNT(DISTINCT) answer that cascades at 100 TB where exact counts
    can't. One partial/final groupBy; the contract asserts the estimate
    against the exact distinct computed independently."""
    ev = _t(spark, sf_dir, "events")
    fine = sk_ops.with_estimate(
        sk_ops.distinct_rollup(ev, 3600.0, by="event_type", value_col="user_id")
    )
    return _sketch_export(fine, _exact_distinct(ev, 3600.0))


def q_sketch_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch CASCADE: day-grain distinct users per event_type merged
    from the HOUR sketches via hll_union_agg — the fact table is scanned
    once; set semantics make overlapping fine buckets collapse correctly
    (summing hourly distincts would overcount). Oracle computes the day
    distinct DIRECTLY from raw events, proving the merge path."""
    ev = _t(spark, sf_dir, "events")
    fine = sk_ops.distinct_rollup(ev, 3600.0, by="event_type", value_col="user_id")
    daily = sk_ops.with_estimate(
        sk_ops.distinct_coarser(fine, 86400.0, by="event_type", fine_seconds=3600.0)
    )
    return _sketch_export(daily, _exact_distinct(ev, 86400.0))


def _sql_sketch(width: int) -> str:
    return f"""
SELECT event_type,
       CAST(floor(epoch_us(ts) / 1000000.0 / {width}) * {width} AS DOUBLE) AS bucket_sec,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS d_exact,
       TRUE AS est_ok
FROM events GROUP BY 1, 2
"""


_SQL_SKETCH_DISTINCT = _sql_sketch(3600)
_SQL_SKETCH_CASCADE = _sql_sketch(86400)


def q_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares TREND of the value series over the trailing
    8 events, strictly past (``temporal.rolling_trend``): closed-form
    slope from five window sums on ONE entity exchange. Regressing on the
    integer event index keeps Σx/Σx² exact BIGINTs — an epoch-seconds
    regressor would burn the cancellation ``nΣx² − (Σx)²`` down to noise.
    NULL until 2 past points; the oracle replays the same closed form."""
    ev = _indexed_events(spark, sf_dir)
    r = temporal_ops.rolling_trend(
        ev, by="user_id", order="idx", value_col="value",
        window_rows=8, strict_past=True,
    )
    return r.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("idx").cast("long").alias("idx"),
        F.round("trend", 6).alias("trend"),
    )


_SQL_ROLLING_TREND = f"""
WITH t AS ({_IDX_SQL}),
w AS (
  SELECT user_id, event_id, idx,
         count(value)                OVER fr AS n,
         sum(CASE WHEN value IS NOT NULL THEN idx END)       OVER fr AS sx,
         sum(CASE WHEN value IS NOT NULL THEN idx * idx END) OVER fr AS sxx,
         sum(value)                  OVER fr AS sy,
         sum(idx * value)            OVER fr AS sxy
  FROM t
  WINDOW fr AS (PARTITION BY user_id ORDER BY idx
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
       CAST(idx AS BIGINT) AS idx,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
            THEN round((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS trend
FROM w
"""


def q_rolling_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 AUTOCORRELATION of the value series over the
    trailing 12 events, strictly past (``temporal.rolling_autocorr``):
    Pearson r between the series and its lag from six window sums — the
    lag projection and the frame sums share ONE (user, idx) sort/exchange
    (two Window operators, zero joins). NULL until 2 pairs or when either
    side is constant; the oracle replays the identical closed form."""
    ev = _indexed_events(spark, sf_dir)
    r = temporal_ops.rolling_autocorr(
        ev, by="user_id", order="idx", value_col="value",
        lag=1, window_rows=12, strict_past=True,
    )
    return r.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("idx").cast("long").alias("idx"),
        F.round("autocorr", 6).alias("autocorr"),
    )


_SQL_ROLLING_AUTOCORR = f"""
WITH t AS ({_IDX_SQL}),
p AS (
  SELECT user_id, event_id, idx, value,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY idx) AS zraw
  FROM t
),
q AS (
  SELECT user_id, event_id, idx,
         CASE WHEN value IS NOT NULL AND zraw IS NOT NULL THEN value END AS y,
         CASE WHEN value IS NOT NULL AND zraw IS NOT NULL THEN zraw END AS z
  FROM p
),
w AS (
  SELECT user_id, event_id, idx,
         count(y)     OVER fr AS n,
         sum(y)       OVER fr AS sy,
         sum(z)       OVER fr AS sz,
         sum(y * y)   OVER fr AS syy,
         sum(z * z)   OVER fr AS szz,
         sum(y * z)   OVER fr AS syz
  FROM q
  WINDOW fr AS (PARTITION BY user_id ORDER BY idx
                ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
       CAST(idx AS BIGINT) AS idx,
       CASE WHEN n >= 2 AND (n * syy - sy * sy) > 0 AND (n * szz - sz * sz) > 0
            THEN round((n * syz - sy * sz)
                       / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)), 6)
       END AS autocorr
FROM w
"""


def q_ewma_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (6h half-life, strictly past) of each user's value series
    (``temporal.time_decayed_mean``): decayed sum over decayed count, both
    through the exact two-phase chunked plan; the oracle recomputes every
    row's weighted mean by brute-force self-join — chunking proven exact.
    First row per user is NULL (no past), never 0/0."""
    d = _t(spark, sf_dir, "events")
    r = temporal_ops.time_decayed_mean(
        d, "value", half_life_seconds=21600.0, key="user_id",
        ts_col="ts", tiebreak_col="event_id", out_col="ewm_6h",
        strict_past=True, chunk_half_lives=8,
    )
    return r.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.round("ewm_6h", 6).alias("ewm_6h"),
    )


_SQL_EWMA_MEAN = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts)/1000000.0 AS t, value FROM events
)
SELECT CAST(a.user_id AS BIGINT) AS user_id, CAST(a.event_id AS BIGINT) AS event_id,
       round(sum(b.value * power(2.0, -(a.t - b.t)/21600.0))
             / sum(power(2.0, -(a.t - b.t)/21600.0)), 6) AS ewm_6h
FROM e a
LEFT JOIN e b
  ON a.user_id = b.user_id
 AND (b.t < a.t OR (b.t = a.t AND b.event_id < a.event_id))
GROUP BY a.user_id, a.event_id
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (``rollup.cohort_retention``):
    users cohorted by the epoch-week of their first event; one row per
    (cohort, offset) with the share still active. The cohort assignment
    is a window min on the SAME entity exchange the activity dedup needs
    — the fact table shuffles once, no self-join."""
    ev = _t(spark, sf_dir, "events")
    r = rollup_ops.cohort_retention(
        ev, key="user_id", ts="ts", bucket_seconds=7 * 86400.0
    )
    return r.select(
        F.col("cohort_sec").cast("double").alias("cohort_sec"),
        F.col("offset").cast("long").alias("offset"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("n_cohort").cast("long").alias("n_cohort"),
        F.round("retention", 6).alias("retention"),
    )


_SQL_COHORT_RETENTION = """
WITH b AS (
  SELECT user_id,
         floor(epoch_us(ts) / 1000000.0 / 604800) * 604800 AS bsec
  FROM events
),
per AS (
  SELECT DISTINCT user_id,
         min(bsec) OVER (PARTITION BY user_id) AS cohort, bsec
  FROM b
),
tri AS (
  SELECT cohort, CAST((bsec - cohort) / 604800 AS BIGINT) AS "offset",
         count(DISTINCT user_id) AS n_active
  FROM per GROUP BY 1, 2
),
sz AS (SELECT cohort, count(DISTINCT user_id) AS n_cohort FROM per GROUP BY 1)
SELECT CAST(t.cohort AS DOUBLE) AS cohort_sec, t."offset" AS "offset",
       CAST(t.n_active AS BIGINT) AS n_active,
       CAST(s.n_cohort AS BIGINT) AS n_cohort,
       round(t.n_active * 1.0 / s.n_cohort, 6) AS retention
FROM tri t JOIN sz s ON t.cohort = s.cohort
"""


def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free seasonal profile (``temporal.seasonal_baseline``): each
    event's deviation from this user's trailing mean at the SAME
    hour-of-day — strictly past, expanding. ONE window on a
    (user, hour-slot) exchange: a FINER key than the per-user exchange,
    so mega-entity skew is 24× milder here than in any per-entity
    window. The slot is pure wall-clock arithmetic (hour() on NTZ
    coerces through the session tz — see seasonal_slot)."""
    ev = _t(spark, sf_dir, "events")
    r = temporal_ops.seasonal_baseline(
        ev, by="user_id", ts_col="ts", value_col="value",
        slot_seconds=3600.0, period_seconds=86400.0,
        tiebreak_col="event_id", strict_past=True,
    )
    return r.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("slot").cast("long").alias("slot"),
        F.col("n_slot_past").cast("long").alias("n_slot_past"),
        F.round("seasonal_mean", 6).alias("seasonal_mean"),
        F.round(F.col("value") - F.col("seasonal_mean"), 6).alias("resid"),
    )


_SQL_SEASONAL_BASELINE = """
WITH s AS (
  SELECT user_id, event_id, value,
         CAST(floor((epoch_us(ts) % 86400000000) / 3600000000.0) AS BIGINT) AS slot,
         epoch_us(ts) AS eus
  FROM events
),
w AS (
  SELECT user_id, event_id, slot, value,
         count(value) OVER fr AS n_slot_past,
         sum(value)   OVER fr AS s_past
  FROM s
  WINDOW fr AS (PARTITION BY user_id, slot ORDER BY eus, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
       slot, CAST(n_slot_past AS BIGINT) AS n_slot_past,
       CASE WHEN n_slot_past > 0 THEN round(s_past / n_slot_past, 6) END AS seasonal_mean,
       CASE WHEN n_slot_past > 0 THEN round(value - s_past / n_slot_past, 6) END AS resid
FROM w
"""


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift from histogram sketches
    (``sketches.ks_from_hists``): the first half of the time range (by
    the epoch midpoint — a 1-row broadcast agg, the corpus_stats
    pattern) is the reference window, the second half the current; each
    side folds to ONE 64-bin sketch per event_type and the KS distance
    is the max ECDF gap over the shared grid — the distribution-free,
    smoothing-free complement to ``drift_psi``/``drift_incremental``
    scored from sketch-sized data. The oracle replays the identical
    binning, cumsum, and max from raw facts."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    src = ev.withColumn(
        "_eus", F.round(_sec("ts") * F.lit(1000000.0)).cast("long")
    )
    bounds = src.agg(F.min("_eus").alias("_mn"), F.max("_eus").alias("_mx"))
    j = src.crossJoin(F.broadcast(bounds)).withColumn(
        "_side",
        ((F.col("_eus") * 2) < (F.col("_mn") + F.col("_mx"))).cast("int"),
    )
    wide = 4.0e9  # one bucket spans the table: corpus-level drift
    # ONE fact scan: the side is a grouping column of a single
    # hist_rollup and the SKETCH-sized result is pinned before the
    # ref/cur split — without the persist, Catalyst pushes each side's
    # group-key filter back through the aggregate and re-scans the fact
    # table per side (measured: 4 scans)
    from acoustic_feature_extractor_spark.plans.cache import tracked_persist

    both = tracked_persist(
        sk_ops.hist_rollup(
            j, wide, ["event_type", "_side"], "value", lo=0.0, hi=512.0, bins=64
        ).drop("bucket", "n")
    )
    rh = both.where(F.col("_side") == 1).drop("_side")
    ch = both.where(F.col("_side") == 0).drop("_side")
    ks = sk_ops.ks_from_hists(rh, ch, by="event_type", bins=64)
    return ks.select(
        "event_type",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("ks", 6).alias("ks"),
    )


_SQL_DRIFT_KS = """
WITH b AS (
  SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx FROM events
),
s AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) * 2 < mn + mx THEN 1 ELSE 0 END AS is_ref,
         CAST(least(greatest(floor(value / 8.0), 0), 63) AS BIGINT) AS bin0
  FROM events, b
),
p AS (
  SELECT event_type, bin0,
         sum(is_ref) AS nr, sum(1 - is_ref) AS nc
  FROM s GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         sum(nr) OVER (PARTITION BY event_type ORDER BY bin0) AS cr,
         sum(nc) OVER (PARTITION BY event_type ORDER BY bin0) AS cc,
         sum(nr) OVER (PARTITION BY event_type) AS tr,
         sum(nc) OVER (PARTITION BY event_type) AS tc
  FROM p
)
SELECT event_type,
       CAST(max(tr) AS BIGINT) AS n_ref,
       CAST(max(tc) AS BIGINT) AS n_cur,
       round(max(abs(cr * 1.0 / tr - cc * 1.0 / tc)), 6) AS ks
FROM cum GROUP BY 1
"""


def q_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (``sketches.freq_apply_changes`` +
    ``topk_compress``): the exact per-item frequency base of snapshot v1
    folds forward with the CDC change set of a MERGE that RE-TYPES half
    the keys to 'purchase' (deletes subtract, inserts add — counts are
    fully retractable, zero fact re-reads), then fresh per-user top-2
    summaries publish from the folded base. Capacity 8 ≥ the 5-type
    vocabulary, so the summaries are exact and the oracle recomputes the
    top-2 from the FINAL state directly; the lossy regime is
    pytest-pinned."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    t = tempfile.mkdtemp(prefix="topk_ivm_query_")
    s1 = snap.commit(ev.where(F.col("event_id") % 4 != 0), t)
    upd = ev.where(F.col("event_id") % 4 <= 1).withColumn(
        "event_type", F.lit("purchase")
    )
    s2 = snap.merge_upsert(spark, upd, t, key="event_id")
    wide = 4.0e9  # one bucket spans the table: corpus-level top-k
    old = sk_ops.freq_rollup(
        snap.read(spark, t, s1.snapshot_id), wide, "user_id", "event_type"
    )
    ch = snap.read_changes(spark, t, s1.snapshot_id, s2.snapshot_id)
    cur = sk_ops.freq_apply_changes(old, ch, wide, "user_id", "event_type")
    summ = sk_ops.topk_compress(cur, "user_id", capacity=8)
    rows = sk_ops.topk_finalize(summ, k=2, by="user_id")
    return rows.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("rank").cast("long").alias("rank"),
        "item",
        "cnt_lb",
        "cnt_ub",
    )


_SQL_TOPK_INCREMENTAL = """
WITH final AS (
  SELECT user_id,
         CASE WHEN event_id % 4 <= 1 THEN 'purchase' ELSE event_type END AS item
  FROM events
),
c AS (SELECT user_id, item, CAST(count(*) AS BIGINT) AS cnt FROM final GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY cnt DESC, item ASC) AS rank
  FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(rank AS BIGINT) AS rank,
       item, cnt AS cnt_lb, cnt AS cnt_ub
FROM r WHERE rank <= 2
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (``sample.weighted_sample``,
    Efraimidis-Spirakis A-ES): top-20 rows per event_type by
    ``ln(u)/w`` (w = value + 1 — the raw value bottoms out at exactly 0.0
    at some SFs and A-ES requires w > 0; the +1 shift keeps the weights
    strictly positive in BOTH engines) with ``u`` the portable avalanche
    hash of ``event_id:seed`` — deterministic, partitioning-invariant,
    mergeable (so the two-phase salted top-k computes it without a global
    sort). The oracle replays the exact integer hash and key formula."""
    ev = _t(spark, sf_dir, "events").withColumn("w", F.col("value") + F.lit(1.0))
    s = sample_ops.weighted_sample(
        ev, k=20, weight_col="w", key_col="event_id",
        group_cols=["event_type"], seed=0,
    )
    return s.select(
        "event_type",
        F.col("rank").cast("long").alias("rank"),
        F.col("event_id").cast("long").alias("event_id"),
        F.round("value", 6).alias("value"),
    )




def q_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring at CDC cost (``sketches.psi_from_hists``): the
    reference window's histogram sketch stays at rest, the current
    window's sketch folds forward from a MERGE's change set
    (``hist_apply_changes`` — IO ∝ touched rows), and PSI re-scores from
    the two SKETCHES — neither fact table is re-read. The merge shifts
    half the keys by +1000 (clamping into the top bin), so the drift is
    real and locatable there. Oracle recomputes both histograms and the
    identical smoothed PSI from raw facts over a dense bin spine."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    t = tempfile.mkdtemp(prefix="drift_ivm_query_")
    s1 = snap.commit(ev.where(F.col("event_id") % 4 != 0), t)
    upd = ev.where(F.col("event_id") % 4 <= 1).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    s2 = snap.merge_upsert(spark, upd, t, key="event_id")
    wide = 4.0e9  # one bucket spans the whole table: corpus-level drift
    old = sk_ops.hist_rollup(
        snap.read(spark, t, s1.snapshot_id),
        wide, "event_type", "value", lo=0.0, hi=512.0, bins=32,
    )
    ch = snap.read_changes(spark, t, s1.snapshot_id, s2.snapshot_id)
    cur = sk_ops.hist_apply_changes(
        old, ch, wide, "event_type", "value", lo=0.0, hi=512.0, bins=32
    )
    psi = sk_ops.psi_from_hists(
        old.drop("bucket", "n"), cur.drop("bucket", "n"), by="event_type", bins=32
    )
    return psi.select(
        "event_type",
        F.col("bin").cast("long").alias("bin"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round("psi_term", 6).alias("psi_term"),
    )


_SQL_DRIFT_INCREMENTAL = """
WITH refs AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / 16.0), 0), 31) AS BIGINT) AS bin0
  FROM events WHERE event_id % 4 != 0
),
curs AS (
  SELECT event_type,
         CAST(least(greatest(floor(
           (CASE WHEN event_id % 4 <= 1 THEN value + 1000.0 ELSE value END) / 16.0
         ), 0), 31) AS BIGINT) AS bin0
  FROM events
),
spine AS (
  SELECT DISTINCT event_type, b AS bin0
  FROM events, generate_series(0, 31) AS g(b)
),
rc AS (SELECT event_type, bin0, count(*) AS n_ref FROM refs GROUP BY 1, 2),
cc AS (SELECT event_type, bin0, count(*) AS n_cur FROM curs GROUP BY 1, 2),
j AS (
  SELECT s.event_type, s.bin0,
         COALESCE(rc.n_ref, 0) AS n_ref, COALESCE(cc.n_cur, 0) AS n_cur
  FROM spine s
  LEFT JOIN rc ON s.event_type = rc.event_type AND s.bin0 = rc.bin0
  LEFT JOIN cc ON s.event_type = cc.event_type AND s.bin0 = cc.bin0
),
tot AS (
  SELECT *,
         sum(n_ref) OVER (PARTITION BY event_type) AS tr,
         sum(n_cur) OVER (PARTITION BY event_type) AS tc
  FROM j
)
SELECT event_type, bin0 + 1 AS bin,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       round((n_ref + 1e-6) / (tr + 32e-6), 6) AS p,
       round((n_cur + 1e-6) / (tc + 32e-6), 6) AS q,
       round(((n_ref + 1e-6) / (tr + 32e-6) - (n_cur + 1e-6) / (tc + 32e-6))
             * ln(((n_ref + 1e-6) / (tr + 32e-6)) / ((n_cur + 1e-6) / (tc + 32e-6))), 6)
         AS psi_term
FROM tot
"""


def q_kanon_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (``privacy.k_anonymize``): rows whose
    (nation, market-segment) quasi-identifier group has < 8 members are
    suppressed, so every published row hides among ≥ 8 peers. ONE window
    count on the quasi columns — no join, no second scan; the oracle is
    the same predicate spelled as a SQL window."""
    from acoustic_feature_extractor_spark.operators import privacy as priv_ops

    c = _t(spark, sf_dir, "customer")
    out = priv_ops.k_anonymize(
        c, ["c_nationkey", "c_mktsegment"], k=8, mode="suppress"
    )
    return out.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment",
        F.round("c_acctbal", 4).alias("c_acctbal"),
    )


_SQL_KANON_SUPPRESS = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       c_mktsegment,
       ROUND(c_acctbal, 4) AS c_acctbal
FROM (
  SELECT *, count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS _gn
  FROM customer
) WHERE _gn >= 8
"""


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary + per-document OOV profile
    (``text.build_vocab`` / ``text.oov_stats``): the top-50 corpus terms
    get dense ids via the two-phase salted exact top-k (the global sort
    only ever sees salt-bucket survivors), then every document's
    out-of-vocabulary token share is one broadcast left join + groupBy —
    the corpus never shuffles on term for the profile pass."""
    d = _t(spark, sf_dir, "documents")
    vocab = tx.build_vocab(d, top_n=50)
    o = tx.oov_stats(d, vocab)
    return o.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.round("oov_rate", 6).alias("oov_rate"),
    )


_SQL_VOCAB_OOV = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
),
t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
cnt AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
v AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS rn FROM cnt
  ) WHERE rn <= 50
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS oov_rate
FROM t LEFT JOIN v ON t.term = v.term
GROUP BY 1
"""


def q_tool_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel (``context.funnel_steps``): how far each user
    progresses through signup → view → purchase, each step strictly after
    the matched previous one (greedy earliest-match). The engine does it
    in ONE exchange — filter to the 3-step vocabulary, group once, O(m)
    ``aggregate`` fold over the order-sorted events; the oracle spells the
    same greedy as k sequential min-joins (k fact scans — the shape the
    fold avoids). Users with no completed step emit no rows in both."""
    from acoustic_feature_extractor_spark.operators import context as ctx_ops

    ev = _indexed_events(spark, sf_dir)
    f = ctx_ops.funnel_steps(
        ev,
        ["signup", "view", "purchase"],
        by="user_id",
        order="idx",
        step_col="event_type",
    )
    return f.select(
        F.col("user_id").cast("long").alias("user_id"),
        "steps_completed",
        F.posexplode("step_orders").alias("_p", "at_idx"),
    ).select(
        "user_id",
        "steps_completed",
        (F.col("_p") + 1).cast("long").alias("step_no"),
        F.col("at_idx").cast("long").alias("at_idx"),
    )


_SQL_TOOL_FUNNEL = f"""
WITH t AS ({_IDX_SQL}),
s1 AS (SELECT user_id, min(idx) AS i FROM t WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT t.user_id, min(t.idx) AS i FROM t JOIN s1 ON t.user_id = s1.user_id
       AND t.idx > s1.i WHERE t.event_type = 'view' GROUP BY 1),
s3 AS (SELECT t.user_id, min(t.idx) AS i FROM t JOIN s2 ON t.user_id = s2.user_id
       AND t.idx > s2.i WHERE t.event_type = 'purchase' GROUP BY 1),
steps AS (
  SELECT user_id, 1 AS step_no, i FROM s1
  UNION ALL SELECT user_id, 2, i FROM s2
  UNION ALL SELECT user_id, 3, i FROM s3
),
n AS (SELECT user_id, count(*) AS sc FROM steps GROUP BY 1)
SELECT CAST(s.user_id AS BIGINT) AS user_id,
       CAST(n.sc AS BIGINT) AS steps_completed,
       CAST(s.step_no AS BIGINT) AS step_no,
       CAST(s.i AS BIGINT) AS at_idx
FROM steps s JOIN n ON s.user_id = n.user_id
"""


def q_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point scores (``temporal.cusum_scores``) per
    user value series: the non-associative Page recursion
    ``S_i = max(0, S_{i-1} + z_i - k)`` folded into prefix algebra
    (cumsum minus running minimum — two window functions, zero Python).
    Standardization baseline = the first-15-days reference window (same
    epoch-double cut as ``drift_psi``), broadcast as one stats row; the
    oracle replays the identical prefix identity in SQL. Both engines
    evaluate the same left-to-right float prefix sums over identically
    ordered rows, so the scores agree to well under the 6-decimal export."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    cut = 1705363200.0  # 2024-01-16 00:00:00 UTC
    ref = ev.where(_sec("ts") < cut)
    out = temporal_ops.cusum_scores(
        ev, by="user_id", order=["ts", "event_id"], value_col="value",
        ref=ref, k=0.5, h=5.0,
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.round("z", 6).alias("z"),
        F.round("s_pos", 6).alias("s_pos"),
        F.round("s_neg", 6).alias("s_neg"),
        "alarm",
    )


_SQL_CHANGEPOINTS = """
WITH s AS (
  SELECT user_id, event_id, value, epoch_us(ts)/1000000.0 AS tsec, ts FROM events
),
m AS (
  SELECT avg(value) AS mu, sqrt(var_pop(value)) AS sg
  FROM s WHERE tsec < 1705363200.0
),
z AS (
  SELECT user_id, event_id, ts, (value - mu) / sg AS z FROM s, m
),
c1 AS (
  SELECT user_id, event_id, ts, z,
         sum(z - 0.5)  OVER w AS cp,
         sum(-z - 0.5) OVER w AS cn
  FROM z
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT user_id, event_id, z, cp, cn,
         least(0, min(cp) OVER w2) AS mp,
         least(0, min(cn) OVER w2) AS mn
  FROM c1
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
       round(z, 6) AS z,
       round(cp - mp, 6) AS s_pos,
       round(cn - mn, 6) AS s_neg,
       (cp - mp > 5.0 OR cn - mn > 5.0) AS alarm
FROM c
"""


def q_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequency sketch (Misra-Gries top-k,
    ``sketches.topk_rollup/topk_coarser/topk_finalize``): per-user WEEKLY
    top-2 event types merged from the DAILY summaries — counters sum per
    item, error masses sum per group, one MG compress back to capacity;
    the fact table is scanned once at day grain. Capacity 8 ≥ the 5-type
    vocabulary at every SF, so the whole cascade is exact (err = 0,
    cnt_lb = cnt_ub) and the oracle is the plain exact top-2; the lossy
    regime's [lb, ub] containment + guaranteed-presence bounds are
    pytest-pinned (tests/test_sketches.py). Ties break (cnt desc, item
    asc) in both engines."""
    ev = _t(spark, sf_dir, "events")
    fine = sk_ops.topk_rollup(
        ev, 86400.0, by="user_id", item_col="event_type", capacity=8
    )
    wk = sk_ops.topk_coarser(
        fine, 7 * 86400.0, by="user_id", capacity=8, fine_seconds=86400.0
    )
    rows = sk_ops.topk_finalize(wk, k=2, by="user_id")
    return rows.select(
        F.col("user_id").cast("long").alias("user_id"),
        _sec("bucket").alias("bucket_sec"),
        F.col("rank").cast("long").alias("rank"),
        "item",
        "cnt_lb",
        "cnt_ub",
    )


_SQL_SKETCH_TOPK = """
WITH c AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000.0 / 604800) * 604800 AS DOUBLE) AS bucket_sec,
         event_type AS item, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, bucket_sec ORDER BY cnt DESC, item ASC) AS rank
  FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id, bucket_sec,
       CAST(rank AS BIGINT) AS rank, item, cnt AS cnt_lb, cnt AS cnt_ub
FROM r WHERE rank <= 2
"""


def q_salted_join_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-split salted equi-join (skew.salted_join): keys at/above the
    hot threshold are scattered across n_salts replica partitions (one
    hot key becomes 8 tasks, not one straggler), the cold majority takes
    the plain join, halves union. Oracle is the plain LEFT JOIN — the
    salting is proven semantics-free."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    hot = skew_ops.hot_entity_keys(orders, "custkey", threshold=12)
    j = skew_ops.salted_join(
        orders, cust, on="custkey", how="left", n_salts=8, hot_keys=hot
    )
    return j.select(
        F.col("custkey").cast("long").alias("custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.round("o_totalprice", 4).alias("o_totalprice"),
        "c_name",
    )


_SQL_SALTED_JOIN = """
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       ROUND(o_totalprice, 4) AS o_totalprice,
       c_name
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC scan contract (snapshots.read_changes): build a
    snapshot table from events (keys with event_id%4!=0), MERGE an update
    batch (%4<=1, value+1000 — half new keys, half updates of existing
    ones), then diff the two snapshots. Only touched dirs are read; the
    oracle derives the expected net changes in pure SQL: every merge row
    is an insert, updated keys also emit the delete of their old version.
    Carried-dir rows and rewritten-but-unchanged survivors never appear."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    t = tempfile.mkdtemp(prefix="cdc_query_")
    s1 = snap.commit(ev.where(F.col("event_id") % 4 != 0), t)
    upd = ev.where(F.col("event_id") % 4 <= 1).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    s2 = snap.merge_upsert(spark, upd, t, key="event_id")
    ch = snap.read_changes(spark, t, s1.snapshot_id, s2.snapshot_id)
    return ch.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.round("value", 6).alias("value"),
        "_change_type",
    )


_SQL_SNAPSHOT_CHANGES = """
SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
       ROUND(value + 1000.0, 6) AS value, 'insert' AS _change_type
FROM events WHERE event_id % 4 <= 1
UNION ALL
SELECT CAST(event_id AS BIGINT), CAST(user_id AS BIGINT), ROUND(value, 6), 'delete'
FROM events WHERE event_id % 4 = 1
"""


def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping (snapshots.plan_scan / read_where): events
    committed range-clustered on epoch-micros (repartitionByRange →
    disjoint per-file ranges, stats harvested from footers into the
    snapshot log at commit), then a 20%-of-span time-range read opens
    ONLY the files whose [min,max] intersect it — driver-side metadata
    pruning, no footer reads at query time. Bounds are int64
    epoch-microseconds end to end (pure NTZ field extraction —
    ``unix_micros(cast("timestamp"))`` localizes the NTZ wall time in the
    driver's session tz first, and naive-datetime literals shift with it
    too; this query controls neither). The pruning
    evidence is asserted in-code — the query RAISES unless the plan kept
    strictly fewer files than the table has — rather than hashed, so the
    oracle stays a plain full-scan filter, proving pruning semantics-free."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(_sec("ts") * F.lit(1000000.0)).cast("long").alias("ts_us"),
        "value",
    )
    t = tempfile.mkdtemp(prefix="prune_query_")
    snap.commit(ev.repartitionByRange(8, "ts_us"), t)
    mn_us, mx_us = ev.select(F.min("ts_us"), F.max("ts_us")).collect()[0]
    span = mx_us - mn_us
    lo = mn_us + int(0.3 * span)
    hi = mn_us + int(0.5 * span)
    kept, total = snap.plan_scan(t, {"ts_us": (lo, hi)})
    if not (total == 8 and 0 < len(kept) < total):
        raise RuntimeError(
            f"data-skipping evidence failed: kept {len(kept)} of {total} files"
        )
    df = snap.read_where(spark, t, {"ts_us": (lo, hi)})
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_v"),
    )


_SQL_PRUNED_SCAN = """
WITH b AS (
  SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) - epoch_us(min(ts)) AS span
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v
FROM events, b
WHERE epoch_us(ts) >= mn + CAST(floor(0.3 * span) AS BIGINT)
  AND epoch_us(ts) <= mn + CAST(floor(0.5 * span) AS BIGINT)
GROUP BY 1
"""


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (rollup_ops.rollup_apply_changes): the hourly rollup of snapshot v1 is
    folded forward with the CDC change set of a MERGE (read_changes v1→v2)
    instead of recomputed — untouched groups pass through an anti-join,
    insert-only groups merge arithmetically, delete-touched groups
    re-aggregate from the current fact restricted by a dirty-key
    semi-join. IO ∝ touched data, not table size. The oracle recomputes
    the rollup of the FINAL table state directly, proving the fold exact."""
    import tempfile

    from acoustic_feature_extractor_spark.operators import rollup as r_ops
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    t = tempfile.mkdtemp(prefix="ivm_query_")
    s1 = snap.commit(ev.where(F.col("event_id") % 4 != 0), t)
    upd = ev.where(F.col("event_id") % 4 <= 1).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    s2 = snap.merge_upsert(spark, upd, t, key="event_id")
    old = r_ops.rollup(
        snap.read(spark, t, s1.snapshot_id), 3600.0, by="user_id", value_col="value"
    )
    ch = snap.read_changes(spark, t, s1.snapshot_id, s2.snapshot_id)
    out = r_ops.rollup_apply_changes(
        old,
        ch,
        3600.0,
        by="user_id",
        value_col="value",
        fact=snap.read(spark, t, s2.snapshot_id),
    )
    return _rollup_export(out, "user_id")


# final state after the merge: keys %4 in {2,3} keep the original value,
# keys %4 in {0,1} carry value+1000 (inserted / updated by the merge)
_SQL_ROLLUP_INCREMENTAL = """
WITH final AS (
  SELECT user_id, ts,
         CASE WHEN event_id % 4 <= 1 THEN value + 1000.0 ELSE value END AS value
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS DOUBLE) AS bucket_sec,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v,
       ROUND(min(value), 6) AS min_v,
       ROUND(max(value), 6) AS max_v,
       ROUND(epoch_us(min(ts)) / 1000000.0, 6) AS first_ts_sec,
       ROUND(epoch_us(max(ts)) / 1000000.0, 6) AS last_ts_sec,
       ROUND(sum(value) / count(*), 6) AS avg_v
FROM final GROUP BY 1, 2
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (plans/bloom.py): lineitem against a
    selective order-key set. The key side folds into a fixed-size bitmap
    (bounded driver collect — n_bits/64 words regardless of key count);
    the fact side tests k bits map-side so the shuffle into the exact
    join carries only matches + false positives, never the whole fact
    table. Result rows are EXACTLY the plain semi join (the oracle);
    ``bloom_ok`` pins the pruning evidence — the prefilter must pass
    strictly fewer rows than the fact table holds."""
    from acoustic_feature_extractor_spark.plans.bloom import (
        bloom_prefilter,
        bloom_semi_join,
    )

    li = _t(spark, sf_dir, "lineitem")
    keys = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 400000.0)
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    n_fact = li.count()
    n_pre = bloom_prefilter(li, keys, "l_orderkey").count()
    return bloom_semi_join(li, keys, "l_orderkey").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
        F.lit(bool(0 < n_pre < n_fact)).alias("bloom_ok"),
    )


_SQL_BLOOM_SEMI_JOIN = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(l_extendedprice), 6) AS sum_price,
       TRUE AS bloom_ok
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0)
GROUP BY 1
"""


def q_pruned_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data skipping over a z-ordered layout
    (sources/layout.py + snapshots.plan_scan): events committed
    clustered along the (user_id, value) Morton curve, then a conjunctive
    box predicate prunes files on BOTH columns from the snapshot log's
    per-file stats — the property no single-column range layout has
    (``pruned_scan`` prunes on its one sort column only). ``pruned_ok``
    pins the evidence: at most half the files survive the plan. The
    oracle is the plain full-scan filter, proving skipping semantics-free."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap
    from acoustic_feature_extractor_spark.sources.layout import zorder_layout

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    t = tempfile.mkdtemp(prefix="zorder_query_")
    snap.commit(zorder_layout(ev, ["user_id", "value"], 32), t)
    preds = {"user_id": (30, 79), "value": (100.0, 249.0)}
    kept, total = snap.plan_scan(t, preds)
    df = snap.read_where(spark, t, preds)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_v"),
        F.lit(bool(total == 32 and 2 * len(kept) <= total)).alias("pruned_ok"),
    )


_SQL_PRUNED_SCAN_ZORDER = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v,
       TRUE AS pruned_ok
FROM events
WHERE user_id BETWEEN 30 AND 79 AND value BETWEEN 100.0 AND 249.0
GROUP BY 1
"""


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches in the rollup cascade
    (sketches.hist_rollup/hist_coarser/hist_quantiles): hourly fixed-range
    histograms (64 bins over [0, 512), w = 8 — exact in binary, so both
    engines bin identically) merge element-wise to days, and p50/p90/p99
    finalize from the merged counts with the grouped-data estimator. The
    fact table is scanned ONCE at the finest grain; the oracle recomputes
    the day histograms and the identical estimator from raw events,
    proving the cascade lossless."""
    from acoustic_feature_extractor_spark.operators import sketches as sk_ops

    ev = _t(spark, sf_dir, "events")
    fine = sk_ops.hist_rollup(
        ev, 3600.0, "event_type", "value", lo=0.0, hi=512.0, bins=64
    )
    day = sk_ops.hist_coarser(fine, 86400.0, "event_type", fine_seconds=3600.0)
    est = sk_ops.hist_quantiles(day, [0.5, 0.9, 0.99], lo=0.0, hi=512.0, bins=64)
    return est.select(
        "event_type",
        F.round(_sec("bucket"), 6).alias("bucket_sec"),
        F.col("n").cast("long").alias("n"),
        F.round("q5", 6).alias("p50_est"),
        F.round("q9", 6).alias("p90_est"),
        F.round("q99", 6).alias("p99_est"),
    )


# same binning (floor((v-0)/8) clamped to [0,63]) and the same grouped-data
# estimator: at the crossing bin (cum >= t, cum-c < t, t = q*n),
# est = 8*(bin + (t - prev)/c)
_SQL_SKETCH_QUANTILES = """
WITH binned AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000.0 / 86400) * 86400 AS DOUBLE) AS bucket_sec,
         CAST(least(greatest(floor((value - 0.0) / 8.0), 0), 63) AS BIGINT) AS bin
  FROM events
), counts AS (
  SELECT event_type, bucket_sec, bin, count(*) AS c
  FROM binned GROUP BY 1, 2, 3
), cum AS (
  SELECT event_type, bucket_sec, bin, c,
         sum(c) OVER (PARTITION BY event_type, bucket_sec ORDER BY bin) AS cum,
         sum(c) OVER (PARTITION BY event_type, bucket_sec) AS n
  FROM counts
)
SELECT event_type, bucket_sec, CAST(n AS BIGINT) AS n,
  ROUND(max(CASE WHEN cum >= 0.5*n AND cum - c < 0.5*n
                 THEN 0.0 + 8.0 * (bin + (0.5*n - (cum - c)) / c) END), 6) AS p50_est,
  ROUND(max(CASE WHEN cum >= 0.9*n AND cum - c < 0.9*n
                 THEN 0.0 + 8.0 * (bin + (0.9*n - (cum - c)) / c) END), 6) AS p90_est,
  ROUND(max(CASE WHEN cum >= 0.99*n AND cum - c < 0.99*n
                 THEN 0.0 + 8.0 * (bin + (0.99*n - (cum - c)) / c) END), 6) AS p99_est
FROM cum GROUP BY 1, 2, 3
"""


def q_snapshot_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-scan table profiling (snapshots.table_profile): per-column
    rows/nulls/min/max aggregated purely from the snapshot log's per-file
    stats — no data pages, no footers, O(files) driver work (the
    schema-drift / freshness-monitor primitive priced at metadata). The
    oracle recomputes the same profile from the RAW rows, proving the
    commit-time stats harvest truthful."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    t = tempfile.mkdtemp(prefix="profile_query_")
    snap.commit(ev.repartition(8), t)
    prof = snap.table_profile(t)
    rows = [
        (c, int(v[3]), int(v[2]), float(v[0]), float(v[1]))
        for c, v in sorted(prof.items())
    ]
    return spark.createDataFrame(
        rows, "col_name string, n_rows bigint, n_nulls bigint, min_v double, max_v double"
    ).select(
        "col_name",
        "n_rows",
        "n_nulls",
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
    )


_SQL_SNAPSHOT_PROFILE = """
SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
       ROUND(CAST(min(event_id) AS DOUBLE), 6) AS min_v,
       ROUND(CAST(max(event_id) AS DOUBLE), 6) AS max_v
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(user_id) AS BIGINT),
       ROUND(CAST(min(user_id) AS DOUBLE), 6),
       ROUND(CAST(max(user_id) AS DOUBLE), 6)
FROM events
UNION ALL
SELECT 'value', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(value) AS BIGINT),
       ROUND(CAST(min(value) AS DOUBLE), 6),
       ROUND(CAST(max(value) AS DOUBLE), 6)
FROM events
"""


def q_hist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental QUANTILE maintenance (sketches.hist_apply_changes):
    the hourly histogram rollup of snapshot v1 folds forward with the CDC
    change set of a MERGE — and because histogram counts are retractable
    (deletes subtract from their bin), even the delete side folds
    arithmetically with ZERO fact-table access, the step min/max rollups
    cannot take (``rollup_incremental`` re-aggregates dirty groups).
    p50 finalizes from the folded counts; the oracle recomputes histogram
    + estimator from the FINAL table state, proving the fold exact.
    Values pushed past the [0, 512) domain by the merge clamp into the
    top bin on both engines (identical binning arithmetic)."""
    import tempfile

    from acoustic_feature_extractor_spark.operators import sketches as sk_ops
    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    t = tempfile.mkdtemp(prefix="hist_ivm_query_")
    s1 = snap.commit(ev.where(F.col("event_id") % 4 != 0), t)
    upd = ev.where(F.col("event_id") % 4 <= 1).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    s2 = snap.merge_upsert(spark, upd, t, key="event_id")
    old = sk_ops.hist_rollup(
        snap.read(spark, t, s1.snapshot_id),
        3600.0,
        "user_id",
        "value",
        lo=0.0,
        hi=512.0,
        bins=64,
    )
    ch = snap.read_changes(spark, t, s1.snapshot_id, s2.snapshot_id)
    folded = sk_ops.hist_apply_changes(
        old, ch, 3600.0, "user_id", "value", lo=0.0, hi=512.0, bins=64
    )
    est = sk_ops.hist_quantiles(folded, [0.5], lo=0.0, hi=512.0, bins=64)
    return est.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.round(_sec("bucket"), 6).alias("bucket_sec"),
        F.col("n").cast("long").alias("n"),
        F.round("q5", 6).alias("p50_est"),
    )


_SQL_HIST_INCREMENTAL = """
WITH final AS (
  SELECT user_id, ts,
         CASE WHEN event_id % 4 <= 1 THEN value + 1000.0 ELSE value END AS value
  FROM events
), binned AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS DOUBLE) AS bucket_sec,
         CAST(least(greatest(floor((value - 0.0) / 8.0), 0), 63) AS BIGINT) AS bin
  FROM final
), counts AS (
  SELECT user_id, bucket_sec, bin, count(*) AS c
  FROM binned GROUP BY 1, 2, 3
), cum AS (
  SELECT user_id, bucket_sec, bin, c,
         sum(c) OVER (PARTITION BY user_id, bucket_sec ORDER BY bin) AS cum,
         sum(c) OVER (PARTITION BY user_id, bucket_sec) AS n
  FROM counts
)
SELECT CAST(user_id AS BIGINT) AS user_id, bucket_sec, CAST(n AS BIGINT) AS n,
  ROUND(max(CASE WHEN cum >= 0.5*n AND cum - c < 0.5*n
                 THEN 0.0 + 8.0 * (bin + (0.5*n - (cum - c)) / c) END), 6) AS p50_est
FROM cum GROUP BY 1, 2, 3
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — EXACT all-pairs via the
    distributed block-matrix self-join (one BLAS matmul per block pair,
    nothing on the driver at any corpus size), oracle-checked against
    DuckDB list_cosine_similarity. The small-corpus broadcast verify
    (embedding_neardup_exact) and the LSH-blocked approximate path
    (embedding_neardup_pairs) are pytest-pinned to the same frames.
    Threshold 0.45: the synthetic embeddings are near-orthogonal (max
    pairwise cosine ≈ 0.6), so 0.45 yields a real, non-empty answer."""
    e = _t(spark, sf_dir, "embeddings")
    p = sim_ops.embedding_neardup_blocked(e, threshold=0.45, n_blocks=4)
    return p.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


_SQL_EMBEDDING_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
       ROUND(ROUND(list_cosine_similarity(a.v, b.v), 6), 4) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.45
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload + Arrow-batched (stub) decode."""
    d = _t(spark, sf_dir, "documents")
    m = mm_ops.attach_binary_payload(d)
    f = mm_ops.extract_media_features(m, fake=True)
    return f.select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


_SQL_MEDIA = """
SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def q_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-text parse projection (S4 — the Julius label-parse analog,
    ``phoneme.py:50-61``): extract + validate typed fields from the raw
    ``props`` JSON string; malformed rows surface as nulls (the validation
    query), valid rows get the typed value."""
    d = _t(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return d.select(
        "event_id",
        # try-cast on both sides: a non-integer k yields NULL, not an
        # error — a plain cast would ABORT under Spark 4's default ANSI
        # mode (CAST_INVALID_INPUT), defeating this validation query's
        # whole purpose of surfacing malformed rows as nulls
        k_str.try_cast("long").alias("k"),
        # valid = field PRESENT (string extract non-null) on both sides
        k_str.isNotNull().alias("valid"),
    )


_SQL_PROPS_PARSE = """
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       json_extract_string(props, '$.k') IS NOT NULL AS valid
FROM events
"""


_ONEHOT_VOCAB = ["click", "error", "purchase", "signup", "view", "pad"]


def q_onehot_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-vocabulary onehot assembly with pre/post context — the
    reference's flagship output vector (``phoneme.py:44-48`` onehot,
    ``linguistic_feature.py:97-127`` assembly): onehot(label) ++
    onehot(prev) ++ onehot(next) ++ (dur, prev_dur, next_dur), boundary
    rows taking the synthetic 'pad' label with zero duration. Emitted
    long-form (one row per vector element) so the driver hashes every
    dimension's value."""
    d = _indexed_events(spark, sf_dir)
    f = feat_ops.assemble_context_onehot(
        d, "event_type", _ONEHOT_VOCAB, key="user_id", order="idx",
        boundary_label="pad", duration_col="value",
    )
    return f.select(
        "user_id",
        "event_id",
        F.posexplode("features").alias("dim", "value"),
    ).select(
        "user_id",
        "event_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("value", 6).alias("value"),
    )


def _onehot_sql_block(label_expr: str) -> str:
    return ", ".join(
        f"CAST({label_expr} = '{v}' AS DOUBLE)" for v in _ONEHOT_VOCAB
    )


_SQL_ONEHOT = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT user_id, event_id, idx, event_type, value,
         coalesce(lag(event_type) OVER w, 'pad') AS prev_et,
         coalesce(lead(event_type) OVER w, 'pad') AS next_et,
         coalesce(lag(value) OVER w, 0.0) AS prev_v,
         coalesce(lead(value) OVER w, 0.0) AS next_v
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY idx)
),
vec AS (
  SELECT user_id, event_id,
         [{_onehot_sql_block('event_type')},
          {_onehot_sql_block('prev_et')},
          {_onehot_sql_block('next_et')},
          coalesce(value, 0.0), prev_v, next_v]::DOUBLE[] AS v
  FROM d
)
SELECT user_id, event_id, CAST(i - 1 AS BIGINT) AS dim, round(v[i], 6) AS value
FROM vec, unnest(generate_series(1, {3 * len(_ONEHOT_VOCAB) + 3})) AS t(i)
"""


def q_onehot_accent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL reference feature vector incl. the last two un-ported
    columns: PHONEME_ID (vocab index, ``linguistic_feature.py:110-111``,
    dim 1) and ACCENT (per-span start/end booleans,
    ``linguistic_feature.py:118-121`` fed from ``start_accents`` /
    ``end_accents`` ``:40-53``, dim 2). Layout: onehot(label) ++
    onehot(prev) ++ onehot(next) ++ [label_id] ++ (dur, prev_dur,
    next_dur) ++ [start_accent, end_accent]. Accent booleans are derived
    deterministically from the row (value > 5, idx % 3 == 0) — the
    transcripts analog of per-interval accent flags. Long-form output so
    every dimension is hashed."""
    d = _indexed_events(spark, sf_dir).withColumn(
        "start_acc", F.col("value") > F.lit(5.0)
    ).withColumn("end_acc", F.col("idx") % 3 == 0)
    f = feat_ops.assemble_context_onehot(
        d, "event_type", _ONEHOT_VOCAB, key="user_id", order="idx",
        boundary_label="pad", duration_col="value",
        accent_cols=("start_acc", "end_acc"), include_label_id=True,
    )
    return f.select(
        "user_id",
        "event_id",
        F.posexplode("features").alias("dim", "value"),
    ).select(
        "user_id",
        "event_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("value", 6).alias("value"),
    )


def _label_id_sql_block(label_expr: str) -> str:
    cases = " ".join(
        f"WHEN '{v}' THEN {float(i)}" for i, v in enumerate(_ONEHOT_VOCAB)
    )
    return f"CASE {label_expr} {cases} ELSE -1.0 END"


_SQL_ONEHOT_ACCENT = f"""
WITH base AS ({_IDX_SQL}),
d AS (
  SELECT user_id, event_id, idx, event_type, value,
         coalesce(lag(event_type) OVER w, 'pad') AS prev_et,
         coalesce(lead(event_type) OVER w, 'pad') AS next_et,
         coalesce(lag(value) OVER w, 0.0) AS prev_v,
         coalesce(lead(value) OVER w, 0.0) AS next_v
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY idx)
),
vec AS (
  SELECT user_id, event_id,
         [{_onehot_sql_block('event_type')},
          {_onehot_sql_block('prev_et')},
          {_onehot_sql_block('next_et')},
          {_label_id_sql_block('event_type')},
          coalesce(value, 0.0), prev_v, next_v,
          CAST(coalesce(value > 5.0, FALSE) AS DOUBLE),
          CAST(idx % 3 = 0 AS DOUBLE)]::DOUBLE[] AS v
  FROM d
)
SELECT user_id, event_id, CAST(i - 1 AS BIGINT) AS dim, round(v[i], 6) AS value
FROM vec, unnest(generate_series(1, {3 * len(_ONEHOT_VOCAB) + 6})) AS t(i)
"""


# --------------------------------------------------------------------------
# queries — skew engine (salted two-phase windows; oracle = plain window)
# --------------------------------------------------------------------------
# The oracle for every salted op is the UNSALTED window — the whole point:
# chunked execution with carry rows / two-phase merge must be bit-identical
# to the logical window over the full partition (SURVEY.md §4 "custom
# Spark work" #2; reference skew control: extract_f0_range.py:50-78).

def q_salted_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    r = skew_ops.salted_rolling(
        d, "value", lo=-2, hi=2, agg="avg", key="user_id", order="idx",
        out_col="roll_mean", chunk_rows=16,
    )
    return r.select("user_id", "event_id", "idx", F.round("roll_mean", 6).alias("roll_mean"))


_SQL_SALTED_ROLLING = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY idx
                              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS roll_mean
FROM base
"""


def q_salted_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir)
    r = skew_ops.salted_cumsum(
        d, "value", key="user_id", order="idx", out_col="run_sum", chunk_rows=16
    )
    return r.select("user_id", "event_id", "idx", F.round("run_sum", 6).alias("run_sum"))


_SQL_SALTED_CUMSUM = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY idx
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS run_sum
FROM base
"""


def q_salted_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _indexed_events(spark, sf_dir).withColumn(
        "good_value", F.when(F.col("event_type") != "error", F.col("value"))
    )
    r = skew_ops.salted_forward_fill(
        d, "good_value", key="user_id", order="idx", out_col="last_good", chunk_rows=16
    )
    return r.select("user_id", "event_id", "idx", F.round("last_good", 6).alias("last_good"))


_SQL_SALTED_FFILL = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       AS last_good
FROM base
"""


def q_entity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity size profile — the salting decision input (A9 analog,
    ``extract_f0_range.py:50-78``): row counts + needs-salt flag."""
    d = _t(spark, sf_dir, "events")
    p = skew_ops.profile_entity_sizes(d, key="user_id")
    return p.select(
        "user_id",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") > 64).alias("needs_salt"),
    )


_SQL_ENTITY_PROFILE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows, count(*) > 64 AS needs_salt
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# queries — keypoint split / padding / boundary adjust / range refine
# --------------------------------------------------------------------------

def q_keypoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keypoint-based segmentation (W6 variant, ``sampling_data.py:53-60``):
    bucket each event by fixed relative-time boundaries."""
    d = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    d = d.withColumn("t_rel", _sec("ts") - F.min(_sec("ts")).over(w))
    r = sess_ops.split_at_keypoints(
        d, keypoints=[600.0, 3600.0, 14400.0], key="user_id",
        ts_seconds_col="t_rel", segment_col="segment_id",
    )
    return r.select(
        "user_id", "event_id",
        F.col("segment_id").cast("long").alias("segment_id"),
    )


_SQL_KEYPOINT = """
WITH d AS (
  SELECT user_id, event_id,
         epoch_us(ts)/1000000.0 - min(epoch_us(ts)/1000000.0) OVER (PARTITION BY user_id) AS t_rel
  FROM events
)
SELECT user_id, event_id,
       CAST((CASE WHEN t_rel >= 600.0 THEN 1 ELSE 0 END)
          + (CASE WHEN t_rel >= 3600.0 THEN 1 ELSE 0 END)
          + (CASE WHEN t_rel >= 14400.0 THEN 1 ELSE 0 END) AS BIGINT) AS segment_id
FROM d
"""


def q_pad_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length padding / alignment (W7, ``sampling_data.py:62-81``): every
    session of a user padded to the user's longest session; pad value =
    segment's last value (edge-consensus analog)."""
    d = _indexed_events(spark, sf_dir)
    d = sess_ops.sessionize(d, gap_seconds=3600.0, key="user_id", ts="ts", order="idx")
    p = win_ops.pad_segments_to_max(
        d, "value", key="user_id", segment_col="session_id", order="idx"
    )
    return p.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("pos").cast("long").alias("pos"),
        F.round("value", 6).alias("value"),
        "is_pad",
    )


_SQL_PAD = f"""
WITH base AS ({_IDX_SQL}),
s AS (
  SELECT user_id, event_id, idx, value,
         CASE WHEN epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0)
              OVER (PARTITION BY user_id ORDER BY idx) > 3600.0 THEN 1 ELSE 0 END AS is_new,
         ts
  FROM base
),
sess AS (
  SELECT user_id, event_id, idx, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY idx) AS session_id
  FROM s
),
pos AS (
  SELECT user_id, session_id, value,
         CAST(row_number() OVER (PARTITION BY user_id, session_id ORDER BY idx) - 1 AS BIGINT) AS pos
  FROM sess
),
sizes AS (
  SELECT user_id, session_id, count(*) AS n, arg_max(value, pos) AS pad_v
  FROM pos GROUP BY user_id, session_id
),
mx AS (
  SELECT *, max(n) OVER (PARTITION BY user_id) AS max_n FROM sizes
),
pads AS (
  SELECT user_id, session_id, unnest(generate_series(n, max_n - 1)) AS pos, pad_v AS value
  FROM mx WHERE n < max_n
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, CAST(pos AS BIGINT) AS pos,
       round(value, 6) AS value, FALSE AS is_pad
FROM pos
UNION ALL
SELECT user_id, CAST(session_id AS BIGINT), CAST(pos AS BIGINT), round(value, 6), TRUE
FROM pads
"""


def q_boundary_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval boundary adjustment (J4,
    ``extract_silence_expanded_label.py:30-61``): spans snapped onto
    overlapping idle-run edges, neighbor-clamped, contiguity repaired."""
    d = _indexed_events(spark, sf_dir)
    spans = d.groupBy(
        "user_id", (F.col("idx") / F.lit(8)).cast("long").alias("span_id")
    ).agg(
        F.min(_sec("ts")).alias("start_ts"),
        F.max(_sec("ts")).alias("end_ts"),
    )
    # idle runs: fixed weekly maintenance windows (deterministic intervals)
    idle = (
        spark.range(0, 30)
        .select(
            F.lit(None).cast("long").alias("user_id"),
            (F.lit(1704067200.0) + F.col("id") * 7 * 86400).alias("start_ts"),
            (F.lit(1704067200.0) + F.col("id") * 7 * 86400 + 43200).alias("end_ts"),
        )
    )
    users = d.select("user_id").distinct()
    idle = users.crossJoin(F.broadcast(idle.drop("user_id")))
    # epoch-double space end to end (the operator is dtype-preserving);
    # a cast("timestamp") round trip here would mint session-tz instants
    adj = interval_ops.adjust_boundaries_to_idle(
        spans, idle, key="user_id", min_span_seconds=60.0
    )
    return adj.select(
        "user_id",
        F.col("span_id").cast("long").alias("span_id"),
        F.round(F.col("start_ts"), 6).alias("start_sec"),
        F.round(F.col("end_ts"), 6).alias("end_sec"),
    )


_SQL_BOUNDARY = """
WITH base AS (
  SELECT user_id, event_id, ts,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
  FROM events
),
spans AS (
  SELECT user_id, CAST(idx // 8 AS BIGINT) AS span_id,
         min(epoch_us(ts)/1000000.0) AS s, max(epoch_us(ts)/1000000.0) AS e
  FROM base GROUP BY 1, 2
),
idle AS (
  SELECT 1704067200.0 + i * 7 * 86400 AS i_s,
         1704067200.0 + i * 7 * 86400 + 43200 AS i_e
  FROM unnest(generate_series(0, 29)) AS t(i)
),
hits AS (
  SELECT sp.user_id, sp.span_id, sp.s, sp.e,
         min(CASE WHEN id.i_s < sp.s AND sp.s <= id.i_e THEN id.i_s END) AS new_s,
         max(CASE WHEN id.i_s <= sp.e AND sp.e < id.i_e THEN id.i_e END) AS new_e
  FROM spans sp LEFT JOIN idle id ON TRUE
  GROUP BY sp.user_id, sp.span_id, sp.s, sp.e
),
clamped AS (
  SELECT user_id, span_id,
         CASE WHEN lag(coalesce(new_s, s)) OVER w IS NOT NULL
                   AND coalesce(new_s, s) < lag(coalesce(new_s, s)) OVER w + 60.0
              THEN lag(coalesce(new_s, s)) OVER w + 60.0
              ELSE coalesce(new_s, s) END AS adj_s,
         coalesce(new_e, e) AS adj_e
  FROM hits
  WINDOW w AS (PARTITION BY user_id ORDER BY span_id)
)
SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
       round(adj_s, 6) AS start_sec,
       round(coalesce(lead(adj_s) OVER (PARTITION BY user_id ORDER BY span_id), adj_e), 6) AS end_sec
FROM clamped
"""


def q_range_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative trimmed-range convergence (A7,
    ``extract_f0_range.py:307-353``): 2 driver rounds of filter → weighted
    percentiles → 10% log-space expansion; returns the final bracket."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum("l_quantity").alias("w")
    ).persist()
    lo, hi = pct_ops.iterative_range_refine(
        d, "v", "w", n_rounds=2, q_lo=0.1, q_hi=0.9, expand=0.10
    )
    d.unpersist()
    return spark.createDataFrame(
        [(round(lo, 6), round(hi, 6))], "lo double, hi double"
    )


# Oracle: the 2-round loop unrolled. Round = weighted (0.1, 0.9)
# percentile over the (filtered) set, then ±10% expansion in log space.
def _sql_wpct_macro(src: str) -> str:
    return f"""
c AS (
  SELECT v, w,
         sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER () AS total
  FROM {src}
),
m AS (SELECT v, (cw - w/2) / total AS mid FROM c),
seg AS (
  SELECT v, mid,
         lead(mid) OVER (ORDER BY mid, v) AS nmid,
         lead(v) OVER (ORDER BY mid, v) AS nv,
         min(v) OVER () AS minv, max(v) OVER () AS maxv,
         min(mid) OVER () AS minmid, max(mid) OVER () AS maxmid
  FROM m
),
qs AS (SELECT unnest([0.1, 0.9]) AS q),
pct AS (
  SELECT q,
         min(CASE WHEN q <= minmid THEN minv
                  WHEN q >= maxmid THEN maxv
                  ELSE v + (nv - v) * (q - mid) / (nmid - mid) END) AS value
  FROM qs JOIN seg
    ON (mid <= q AND q < coalesce(nmid, 1e308))
    OR (q < minmid AND mid = minmid)
    OR (q >= maxmid AND mid = maxmid)
  GROUP BY q
),
bracket AS (
  SELECT exp(ln(min(CASE WHEN q = 0.1 THEN value END))
             - 0.10 * (ln(min(CASE WHEN q = 0.9 THEN value END)) - ln(min(CASE WHEN q = 0.1 THEN value END)))) AS lo,
         exp(ln(min(CASE WHEN q = 0.9 THEN value END))
             + 0.10 * (ln(min(CASE WHEN q = 0.9 THEN value END)) - ln(min(CASE WHEN q = 0.1 THEN value END)))) AS hi
  FROM pct
)
"""


_SQL_RANGE_REFINE = f"""
WITH d AS (SELECT l_extendedprice AS v, CAST(sum(l_quantity) AS DOUBLE) AS w FROM lineitem GROUP BY 1),
{_sql_wpct_macro('d')},
r1 AS (SELECT lo, hi FROM bracket),
d2 AS (SELECT v, w FROM d, r1 WHERE v >= r1.lo AND v <= r1.hi),
{_sql_wpct_macro('d2').replace('c AS', 'c2 AS').replace('m AS', 'm2 AS').replace('seg AS', 'seg2 AS').replace('qs AS', 'qs2 AS').replace('pct AS', 'pct2 AS').replace('bracket AS', 'bracket2 AS').replace('FROM c', 'FROM c2').replace('FROM m', 'FROM m2').replace('FROM qs JOIN seg', 'FROM qs2 JOIN seg2').replace('FROM pct', 'FROM pct2')}
SELECT round(lo, 6) AS lo, round(hi, 6) AS hi FROM bracket2
"""


def q_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents laid on a
    per-bucket token tape, sequences cut every ``capacity`` tokens; pure
    window-cumsum plan (one shuffle). Bucket = doc_id % 8 here so the
    DuckDB oracle reproduces the layout (production default: xxhash64)."""
    d = _t(spark, sf_dir, "documents")
    p = pack_ops.pack_concat(
        d,
        tokens_col="n_chars",
        id_col="doc_id",
        capacity=2048,
        bucket=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return p.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("tape_start").cast("long").alias("tape_start"),
        F.col("pack_first").cast("long").alias("pack_first"),
        F.col("pack_last").cast("long").alias("pack_last"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
    )


_SQL_PACK_CONCAT = """
WITH d AS (SELECT doc_id, n_chars, doc_id % 8 AS bucket FROM documents),
c AS (
  SELECT doc_id, n_chars, bucket,
         COALESCE(SUM(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tape_start
  FROM d),
p AS (
  SELECT doc_id, n_chars, bucket, tape_start,
         CAST(floor(tape_start / 2048.0) AS BIGINT) AS pack_first,
         CAST(greatest(floor((tape_start + n_chars - 1) / 2048.0),
                       floor(tape_start / 2048.0)) AS BIGINT) AS pack_last
  FROM c)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(bucket AS BIGINT) AS bucket, CAST(tape_start AS BIGINT) AS tape_start,
       pack_first, pack_last, pack_last - pack_first + 1 AS n_pieces
FROM p
"""


def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing (no straddling): reset-on-overflow fill is
    a true recursion, run as an O(#packs·log n) searchsorted loop per hash
    bucket inside Arrow-batched applyInPandas; the DuckDB oracle replays
    the identical recursion as a recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    p = pack_ops.pack_greedy(
        d,
        tokens_col="n_chars",
        id_col="doc_id",
        capacity=2048,
        bucket=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return p.select(
        "bucket",
        "doc_id",
        "n_chars",
        "pack_id",
        "pack_pos",
    )


_SQL_PACK_GREEDY = """
WITH RECURSIVE d AS (
  SELECT doc_id, n_chars, doc_id % 8 AS bucket,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
rec AS (
  SELECT bucket, doc_id, n_chars, rn, CAST(0 AS BIGINT) AS pack_id,
         n_chars AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT x.bucket, x.doc_id, x.n_chars, x.rn,
         CASE WHEN r.fill + x.n_chars > 2048 THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.fill + x.n_chars > 2048 THEN x.n_chars ELSE r.fill + x.n_chars END
  FROM rec r JOIN d x ON x.bucket = r.bucket AND x.rn = r.rn + 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars, pack_id,
       CAST(rn - min(rn) OVER (PARTITION BY bucket, pack_id) AS BIGINT) AS pack_pos
FROM rec
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (tf · (ln((N+1)/(df+1)) + 1)), ties broken by term text."""
    d = _t(spark, sf_dir, "documents")
    t = tx.tfidf_top_terms(d, k=3)
    return t.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("rank").cast("long").alias("rank"),
        "tfidf",
    )


_SQL_TFIDF = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf * (ln((n.n + 1) / (d.df + 1)) + 1.0) AS tfidf
  FROM tf t JOIN dfq d USING (term) CROSS JOIN n
),
r AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(rank AS BIGINT) AS rank,
       round(tfidf, 6) AS tfidf
FROM r WHERE rank <= 3
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization: clip values to the exact [p5, p95]
    percentile bounds (linear-interpolation percentile = numpy/DuckDB
    quantile_cont semantics); bounds broadcast back, fact unshuffled."""
    ev = _t(spark, sf_dir, "events")
    wz = stats_ops.winsorize(
        ev, "value", q_lo=0.05, q_hi=0.95, group_cols=["event_type"]
    )
    return wz.select(
        F.col("user_id").cast("long").alias("user_id"),
        _ts_sec("ts").alias("ts_sec"),
        "event_type",
        F.round("value", 6).alias("value"),
        F.round("value_w", 6).alias("value_w"),
    )


_SQL_WINSORIZE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT CAST(e.user_id AS BIGINT) AS user_id,
       round(epoch_us(e.ts)/1000000.0, 6) AS ts_sec,
       e.event_type,
       round(e.value, 6) AS value,
       round(least(greatest(e.value, b.lo), b.hi), 6) AS value_w
FROM events e JOIN b USING (event_type)
"""


# --------------------------------------------------------------------------
# queries — training-data export: clusters / split / balance / shards
# --------------------------------------------------------------------------

def _sql_phash(expr: str) -> str:
    """DuckDB recomputation of ``dedup.token_hash_portable(expr)``.

    Same two 31-bit polynomial accumulators packed as h1*2^31 + h2;
    list_reduce's implicit first-element seed equals the fold-from-0
    first step (0*m + x0 = x0), so the engines agree exactly."""
    def acc(mult: int, mod: int) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, length({expr})), "
            f"i -> CAST(ascii(substring({expr}, i, 1)) AS BIGINT)), "
            f"(acc, x) -> (acc * {mult} + x) % {mod})"
        )

    return (
        f"(CASE WHEN length({expr}) = 0 THEN 0 ELSE {acc(31, 2147483647)} END"
        f" * (CAST(1 AS BIGINT) << 31)"
        f" + CASE WHEN length({expr}) = 0 THEN 0 ELSE {acc(131, 2147483629)} END)"
    )


def _sql_pmix(h: str) -> str:
    """DuckDB recomputation of ``dedup.portable_mix(h)``.

    ``h`` should be a plain column reference (it is expanded 4x).  Same
    two multiply-fold rounds; every intermediate < 2^63 so DuckDB's
    checked BIGINT arithmetic is exact."""
    P = 2305843009213693951
    r1 = f"(((({h}) >> 31) * 2654435761 + (({h}) & 2147483647)) % {P})"
    return f"((({r1} >> 31) * 2246822519 + ({r1} & 2147483647) * 2654435761) % {P})"


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the capped n-gram near-dup pairs into
    clusters (connected components, min-id canonical): A~B~C with A!~C
    must collapse to ONE cluster or pair-level dedup keeps both A and C.
    Oracle: recursive-CTE min-label reachability over the same pair SQL.
    The hot-shingle cap is the fractional in-plan form (no driver-side
    count() job just to size it — VERDICT r3 #9)."""
    d = _t(spark, sf_dir, "documents")
    p = dedup_ops.ngram_jaccard_pairs(d, w=3, threshold=0.8, max_doc_freq=0.2)
    c = cluster_ops.dedup_clusters(p)
    return c.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


_SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS t(i)
),
hot AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) > (SELECT greatest(CAST(floor(count(DISTINCT doc_id) / 5.0) AS BIGINT), 10)
                     FROM documents)
),
sh AS (
  SELECT s.doc_id, s.shingle FROM sh0 s
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.shingle = s.shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT a AS node, a AS lab FROM edges
  UNION
  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 90/5/5 split keyed on user_id: every event of a user
    lands in one split, reproducibly on any engine (portable hash, no
    rand())."""
    ev = _t(spark, sf_dir, "events")
    s = sample_ops.hash_split(
        ev, "user_id", {"train": 0.9, "val": 0.05, "test": 0.05}, seed=0
    )
    return s.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "split",
    )


_SQL_HASH_SPLIT = f"""
WITH h0 AS (
  SELECT event_id, user_id,
         {_sql_phash("(CAST(user_id AS VARCHAR) || ':0')")} AS hv
  FROM events
),
h AS (
  SELECT event_id, user_id, {_sql_pmix("hv")} % 1000000 AS b FROM h0
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


_SQL_WEIGHTED_SAMPLE = f"""
WITH h0 AS (
  SELECT event_type, event_id, value,
         {_sql_phash("(CAST(event_id AS VARCHAR) || ':0')")} AS hv
  FROM events
),
es AS (
  SELECT event_type, event_id, value,
         ln(({_sql_pmix("hv")} + 1) * 1.0 / 2305843009213693951.0) / (value + 1.0) AS k
  FROM h0
),
r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY k DESC, event_id ASC)
           AS rank
  FROM es
)
SELECT event_type, CAST(rank AS BIGINT) AS rank,
       CAST(event_id AS BIGINT) AS event_id, ROUND(value, 6) AS value
FROM r WHERE rank <= 20
"""


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language balancing: cap every lang at 50 docs via deterministic
    hash-ranked selection (two-phase skew-safe plan on the Spark side)."""
    d = _t(spark, sf_dir, "documents")
    s = sample_ops.balanced_sample(d, "lang", cap=50, id_col="doc_id", seed=0)
    return s.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


_SQL_BALANCED_SAMPLE = f"""
WITH h0 AS (
  SELECT doc_id, lang,
         {_sql_phash("(CAST(doc_id AS VARCHAR) || ':0')")} AS hv
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_sql_pmix("hv")}, doc_id
         ) AS rk
  FROM h0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM r WHERE rk <= 50
"""


def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle-and-shard of the corpus into 8 shards with
    a reproducible within-shard order — the training-data export layout
    (ORDER BY rand() is neither reproducible nor engine-portable)."""
    d = _t(spark, sf_dir, "documents")
    s = sample_ops.shard_shuffle(d, "doc_id", n_shards=8, seed=0)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


_SQL_SHARD_SHUFFLE = f"""
WITH h0 AS (
  SELECT doc_id,
         {_sql_phash("(CAST(doc_id AS VARCHAR) || ':0')")} AS hv
  FROM documents
),
h AS (
  SELECT doc_id, {_sql_pmix("hv")} AS hv FROM h0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(hv % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
FROM h
"""


def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup: exact embedding-cosine near-dup pairs (block-matrix
    self-join, nothing driver-side) transitively closed into clusters —
    the embedding-space analog of ``dedup_clusters``."""
    e = _t(spark, sf_dir, "embeddings")
    p = sim_ops.embedding_neardup_blocked(e, threshold=0.45, n_blocks=4)
    c = cluster_ops.dedup_clusters(p)
    return c.select(
        F.col("doc_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


_SQL_SEMANTIC_CLUSTERS = """
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.45
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT a AS node, a AS lab FROM edges
  UNION
  SELECT ed.a AS node, r.lab FROM edges ed JOIN reach r ON r.node = ed.b
)
SELECT CAST(node AS BIGINT) AS vec_id, CAST(min(lab) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 thresholds): per-doc
    repetition/shape signals + the keep/reject verdict, rejects kept
    auditable rather than silently dropped."""
    d = _t(spark, sf_dir, "documents")
    g = tx.gopher_filter(d, min_words=20)
    return g.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        "dup_line_ratio",
        "dup_line_char_ratio",
        "alpha_word_ratio",
        "mean_word_len",
        "top_gram_share",
        "keep",
    )


_SQL_DOC_QUALITY = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> length(l) > 0) AS lines
  FROM documents
),
scalar AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CASE WHEN len(lines) <= 1 THEN 0.0
              ELSE ROUND((len(lines) - len(list_distinct(lines))) * 1.0 / len(lines), 6)
         END AS dup_line_ratio,
         CASE WHEN COALESCE(list_sum(list_transform(lines, x -> length(x))), 0) <= 0 THEN 0.0
              ELSE ROUND((list_sum(list_transform(lines, x -> length(x)))
                          - list_sum(list_transform(list_distinct(lines), x -> length(x))))
                         * 1.0 / list_sum(list_transform(lines, x -> length(x))), 6)
         END AS dup_line_char_ratio,
         CASE WHEN len(toks) <= 0 THEN 0.0
              ELSE ROUND(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                         * 1.0 / len(toks), 6)
         END AS alpha_word_ratio,
         CASE WHEN len(toks) <= 0 THEN 0.0
              ELSE ROUND(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0)
                         * 1.0 / len(toks), 6)
         END AS mean_word_len
  FROM base
),
grams AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
),
gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
top AS (
  SELECT doc_id, ROUND(max(c) * 1.0 / sum(c), 6) AS top_gram_share
  FROM gc GROUP BY doc_id
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(s.n_words AS BIGINT) AS n_words,
       s.dup_line_ratio, s.dup_line_char_ratio, s.alpha_word_ratio,
       s.mean_word_len,
       COALESCE(t.top_gram_share, 0.0) AS top_gram_share,
       (s.n_words >= 20 AND s.n_words <= 100000
        AND s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0
        AND s.alpha_word_ratio >= 0.8
        AND s.dup_line_ratio <= 0.3
        AND COALESCE(t.top_gram_share, 0.0) <= 0.2) AS keep
FROM scalar s LEFT JOIN top t USING (doc_id)
"""


def _c4_page(doc_id: F.Column, text: F.Column) -> F.Column:
    """Deterministically synthesize C4-shaped pages from the flat fixture
    text (no newlines/punctuation in the driver corpus): 1/17 docs get a
    "lorem ipsum" prefix, 1/23 a trailing brace, 'table'→'table.' plants
    terminal punctuation, 'vector'→'javascript' plants the boilerplate
    tell, then every 5th space becomes a newline. Mirrored verbatim in
    the DuckDB oracle."""
    page = F.when(doc_id % 17 == 0, F.concat(F.lit("lorem ipsum "), text)).otherwise(
        text
    )
    page = F.when(doc_id % 23 == 0, F.concat(page, F.lit(" {"))).otherwise(page)
    page = F.replace(page, F.lit("table"), F.lit("table."))
    page = F.replace(page, F.lit("vector"), F.lit("javascript"))
    return F.regexp_replace(page, r"((?:\S+ ){4}\S+) ", "$1\n")


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning (Raffel et al. 2020 §2.2): line-level
    terminal-punctuation / ≥5-words / no-javascript filters plus the
    lorem-ipsum / curly-brace / ≥3-kept-lines page gates — map-only, the
    cleaned text and auditable reject flags in one projection."""
    d = _t(spark, sf_dir, "documents")
    doc = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _c4_page(F.col("doc_id"), F.col("text")).alias("text"),
    )
    out = tx.c4_clean(doc, min_line_words=5, min_lines=3)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("kept_lines").cast("long").alias("kept_lines"),
        F.col("dropped_lines").cast("long").alias("dropped_lines"),
        "has_lorem_ipsum",
        "has_brace",
        "keep",
        "clean_text",
    )


_SQL_C4_CLEAN = r"""
WITH synth AS (
  SELECT doc_id,
         regexp_replace(
           replace(replace(
             CASE WHEN doc_id % 23 = 0 THEN base || ' {' ELSE base END,
             'table', 'table.'), 'vector', 'javascript'),
           '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS page
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum ' || text
                    ELSE text END AS base
        FROM documents)
),
split AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(page, chr(10)), l -> trim(l)),
                     l -> length(l) > 0) AS lines,
         contains(lower(page), 'lorem ipsum') AS has_lorem_ipsum,
         contains(page, '{') AS has_brace
  FROM synth
),
kept AS (
  SELECT doc_id, lines, has_lorem_ipsum, has_brace,
         list_filter(lines, l -> regexp_matches(l, '[.!?"”]$')
                             AND len(string_split_regex(l, '\s+')) >= 5
                             AND NOT contains(lower(l), 'javascript')) AS kl
  FROM split
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kl) AS BIGINT) AS kept_lines,
       CAST(len(lines) - len(kl) AS BIGINT) AS dropped_lines,
       has_lorem_ipsum, has_brace,
       (len(kl) >= 3 AND NOT has_lorem_ipsum AND NOT has_brace) AS keep,
       COALESCE(array_to_string(kl, chr(10)), '') AS clean_text
FROM kept
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction over the corpus: per-doc email/ip/phone
    match counts (the audit trail) and the placeholder-redacted text.
    Map-only — pipelines with the scan, zero exchanges at any scale."""
    d = _t(spark, sf_dir, "documents")
    s = tx.pii_scrub(d)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "redacted",
    )


_SQL_PII_SCRUB = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '(?:\d{1,3}\.){3}\d{1,3}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(text, '\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}')) AS BIGINT) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '(?:\d{1,3}\.){3}\d{1,3}', '<IP>', 'g'),
         '\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}', '<PHONE>', 'g') AS redacted
FROM documents
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination sweep: train docs sharing an 8-word
    shingle with the held-out benchmark slice (doc_id % 20 == 0). The
    benchmark shingle table is tiny by definition, so the sweep is a
    broadcast map-side join over the corpus — no corpus shuffle."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    train = d.where(F.col("doc_id") % 20 != 0)
    p = dedup_ops.contamination_pairs(train, bench, w=8, min_shared=1)
    return p.select(
        F.col("train_id").cast("long").alias("train_id"),
        F.col("bench_id").cast("long").alias("bench_id"),
        F.col("shared").cast("long").alias("shared"),
    )


_SQL_DECONTAMINATE = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS shingle
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS t(i)
),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
be AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0)
SELECT CAST(tr.doc_id AS BIGINT) AS train_id,
       CAST(be.doc_id AS BIGINT) AS bench_id,
       CAST(count(*) AS BIGINT) AS shared
FROM tr JOIN be USING (shingle)
GROUP BY tr.doc_id, be.doc_id
HAVING count(*) >= 1
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022 recast): maximal
    token spans whose every 8-token window repeats >= 2 times
    corpus-wide. Output one row per (doc, span)."""
    d = _t(spark, sf_dir, "documents")
    s = dedup_ops.duplicated_spans(d, w=8, min_count=2)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


_SQL_DUP_SPANS = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
win AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS t(i)
  WHERE len(toks) >= 8
),
hot AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM win JOIN hot USING (sh)),
runs AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
rid AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM runs
)
SELECT CAST(doc_id AS BIGINT)                          AS doc_id,
       CAST(min(pos) AS BIGINT)                        AS span_start,
       CAST(max(pos) + 7 AS BIGINT)                    AS span_end,
       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT)     AS span_tokens
FROM rid
GROUP BY doc_id, run
"""


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-mass summary over the same spans: the
    drop/trim signal a curation pipeline thresholds on."""
    d = _t(spark, sf_dir, "documents")
    s = dedup_ops.span_dup_stats(d, w=8, min_count=2)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.round(F.col("dup_ratio"), 9).alias("dup_ratio"),
    )


_SQL_DUP_SPAN_STATS = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
win AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS t(i)
  WHERE len(toks) >= 8
),
hot AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM win JOIN hot USING (sh)),
runs AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
rid AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM runs
),
spans AS (
  SELECT doc_id, max(pos) + 7 - min(pos) + 1 AS span_tokens
  FROM rid GROUP BY doc_id, run
),
per_doc AS (
  SELECT doc_id, sum(span_tokens) AS dup_tokens, count(*) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT CAST(tok.doc_id AS BIGINT)                 AS doc_id,
       CAST(len(toks) AS BIGINT)                  AS total_tokens,
       CAST(coalesce(dup_tokens, 0) AS BIGINT)    AS dup_tokens,
       CAST(coalesce(n_spans, 0) AS BIGINT)       AS n_spans,
       round(CAST(coalesce(dup_tokens, 0) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 9)      AS dup_ratio
FROM tok LEFT JOIN per_doc USING (doc_id)
"""


def q_dup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup cut pass: excise every duplicated span copy,
    keeping the canonical (min doc_id, span_start) occurrence."""
    d = _t(spark, sf_dir, "documents")
    s = dedup_ops.cut_duplicated_spans(d, w=8, min_count=2)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("clean_text").alias("clean_text"),
        F.col("removed_tokens").cast("long").alias("removed_tokens"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )


_SQL_DUP_CUT = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks,
         string_split_regex(trim(text), '\s+') AS otoks
  FROM documents
),
win AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS t(i)
  WHERE len(toks) >= 8
),
hot AS (SELECT sh FROM win GROUP BY sh HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM win JOIN hot USING (sh)),
runs AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
              THEN 0 ELSE 1 END AS brk
  FROM hits
),
rid AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM runs
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM rid GROUP BY doc_id, run
),
spc AS (
  SELECT sp.doc_id, sp.s, sp.e,
         array_to_string(list_slice(t.toks, sp.s + 1, sp.e + 1), ' ') AS content
  FROM spans sp JOIN tok t USING (doc_id)
),
cuts AS (
  SELECT doc_id, s, e FROM (
    SELECT doc_id, s, e,
           row_number() OVER (PARTITION BY content ORDER BY doc_id, s) AS rk
    FROM spc
  ) WHERE rk > 1
),
docpos AS (
  SELECT doc_id, i - 1 AS pos, otoks[i] AS tk
  FROM tok, unnest(generate_series(1, len(toks))) AS t(i)
),
cutpos AS (
  SELECT DISTINCT d.doc_id, d.pos
  FROM docpos d JOIN cuts c ON d.doc_id = c.doc_id AND d.pos BETWEEN c.s AND c.e
),
kept AS (
  SELECT d.doc_id, string_agg(d.tk, ' ' ORDER BY d.pos) AS clean_text,
         count(*) AS kept_n
  FROM docpos d LEFT JOIN cutpos cp ON d.doc_id = cp.doc_id AND d.pos = cp.pos
  WHERE cp.pos IS NULL
  GROUP BY d.doc_id
)
SELECT CAST(t.doc_id AS BIGINT)                              AS doc_id,
       coalesce(k.clean_text, '')                            AS clean_text,
       CAST(len(t.toks) - coalesce(k.kept_n, 0) AS BIGINT)   AS removed_tokens,
       CAST(len(t.toks) AS BIGINT)                           AS total_tokens
FROM tok t LEFT JOIN kept k USING (doc_id)
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (T5/Pile rule, T=0.5):
    deterministic fractional up/down-sampling per language, replica
    index carried as ``copy``."""
    d = _t(spark, sf_dir, "documents")
    s = sample_ops.mixture_sample(
        d, group_col="lang", id_col="doc_id", temperature=0.5, seed=0
    )
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.col("copy").cast("long").alias("copy"),
    )


_SQL_MIXTURE_SAMPLE = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_rows FROM documents GROUP BY lang
),
tot AS (
  SELECT sum(pow(CAST(n_rows AS DOUBLE), 0.5)) AS tw,
         sum(n_rows) AS tn
  FROM counts
),
rates AS (
  SELECT lang,
         least(
           pow(CAST(n_rows AS DOUBLE), 0.5) / tw * CAST(tn AS DOUBLE)
             / CAST(n_rows AS DOUBLE),
           64.0
         ) AS rate
  FROM counts, tot
),
h0 AS (
  SELECT doc_id, lang,
         {_sql_phash("(CAST(doc_id AS VARCHAR) || ':0')")} AS hv0
  FROM documents
),
nc AS (
  SELECT h0.doc_id, h0.lang,
         CAST(floor(rate) AS INT)
           + CASE WHEN CAST({_sql_pmix("hv0")} % 1000000000 AS DOUBLE)
                       < (rate - floor(rate)) * 1000000000.0
                  THEN 1 ELSE 0 END AS n_copies
  FROM h0 JOIN rates USING (lang)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       lang,
       CAST(c AS BIGINT) AS copy
FROM nc, unnest(generate_series(1, n_copies)) AS t(c)
WHERE n_copies > 0
"""


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained add-1 bigram LM score per doc (CCNet-style
    perplexity quality signal)."""
    d = _t(spark, sf_dir, "documents")
    s = tx.bigram_logprob(d)
    return s.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("avg_logprob", 6).alias("avg_logprob"),
        F.round("perplexity", 6).alias("perplexity"),
    )


_SQL_DOC_PERPLEXITY = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
),
uni AS (SELECT t AS w FROM tok, unnest(toks) AS u(t)),
c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
v AS (SELECT count(*) AS vn FROM c1),
bi AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
),
cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
sc AS (
  SELECT bi.doc_id,
         ln((cb.cb + 1.0) / (c1.c1 + 1.0 * v.vn)) AS lp
  FROM bi
  JOIN cb USING (w1, w2)
  JOIN c1 ON bi.w1 = c1.w
  CROSS JOIN v
),
agg AS (SELECT doc_id, count(*) AS nb, avg(lp) AS al FROM sc GROUP BY doc_id)
SELECT CAST(t.doc_id AS BIGINT)            AS doc_id,
       CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams,
       round(agg.al, 6)                    AS avg_logprob,
       round(exp(-agg.al), 6)              AS perplexity
FROM tok t LEFT JOIN agg USING (doc_id)
"""


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of (pandas merge_asof direction surface): each
    click takes the time-closest view, exact-distance ties to the backward
    row. One union + ONE window sort serves both direction candidates."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("vvalue"))
    )
    j = asof_ops.asof_join(
        clicks, views, on="ts", by="user_id", right_cols=["vvalue"], direction="nearest"
    )
    return j.select(
        "user_id",
        "event_id",
        _ts_sec("ts").alias("ts_sec"),
        F.round("vvalue_asof", 6).alias("view_value"),
        F.round(_sec("ts_asof"), 6).alias("view_ts_sec"),
    )


_SQL_ASOF_NEAREST = """
WITH v AS (
  SELECT user_id, ts, max(value) AS vvalue FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
b AS (
  SELECT c.user_id, c.event_id, c.ts, v.vvalue AS bv, v.ts AS bts
  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
),
f AS (
  SELECT c.user_id, c.event_id, v.vvalue AS fv, v.ts AS fts
  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts <= v.ts
)
SELECT b.user_id, b.event_id,
       round(epoch_us(b.ts)/1000000.0, 6) AS ts_sec,
       round(CASE WHEN use_b THEN bv ELSE fv END, 6) AS view_value,
       round(epoch_us(CASE WHEN use_b THEN bts ELSE fts END)/1000000.0, 6)
         AS view_ts_sec
FROM (
  SELECT b.*, f.fv, f.fts,
         (bts IS NOT NULL AND (fts IS NULL OR
          epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)))
           AS use_b
  FROM b JOIN f ON b.event_id = f.event_id
) b
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-score per event_type — the outlier signal
    a corrupt mega-document cannot drag. Fact table shuffles zero times
    (two tiny percentile aggregates broadcast back)."""
    d = _t(spark, sf_dir, "events")
    r = stats_ops.robust_outliers(d, "value", group_cols=["event_type"])
    return r.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round("robust_z", 6).alias("robust_z"),
        "is_outlier",
    )


_SQL_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS m
  FROM events GROUP BY event_type
),
ad AS (
  SELECT e.event_id, e.event_type, e.value, med.m, abs(e.value - med.m) AS adev
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
  FROM ad GROUP BY event_type
)
SELECT ad.event_id, ad.event_type, round(ad.value, 6) AS value,
       round(CASE WHEN mad.mad > 0
                  THEN 0.6745 * (ad.value - ad.m) / mad.mad END, 6) AS robust_z,
       CASE WHEN mad.mad > 0 THEN abs(0.6745 * (ad.value - ad.m) / mad.mad) > 3.5
            ELSE ad.adev > 0 END AS is_outlier
FROM ad JOIN mad USING (event_type)
"""


def q_novelty_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware pair: expanding distinct count (how many event types
    the user produced strictly BEFORE this row — novelty, via
    first-occurrence flags + the two-phase chunked cumsum) and the purged
    temporal train/embargo/test split. Oracle = plain-window SQL."""
    d = _t(spark, sf_dir, "events")
    r = temporal_ops.expanding_distinct_count(
        d,
        "event_type",
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        out_col="seen_types",
        strict_past=True,
        chunk_seconds=172800.0,
    )
    r = temporal_ops.temporal_split(
        r, "2024-01-20 00:00:00", ts_col="ts", embargo_seconds=86400.0
    )
    return r.select(
        "user_id",
        "event_id",
        "seen_types",
        F.col("seen_types_is_new").alias("is_new"),
        "split",
    )


_SQL_NOVELTY_SPLIT = """
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus, ts FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY tus, event_id) AS rn
  FROM e
)
SELECT user_id, event_id,
       CAST(coalesce(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS seen_types,
       (rn = 1) AS is_new,
       CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'test'
            WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 1 DAY THEN 'embargo'
            ELSE 'train' END AS split
FROM r
"""


def q_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency discretization (10 bins global + 4 bins per
    event_type) with NO single-task global sort: chunked two-phase rank.
    Oracle is the plain row_number() formulation — chunking proven exact."""
    d = _t(spark, sf_dir, "events")
    # ONE sketch scan serves both binnings (the grouped call would
    # otherwise re-sketch on top of the first binning's whole plan)
    bounds = pct_ops.value_bounds(d.where(F.col("value").isNotNull()), "value")
    g = pct_ops.quantile_bin(
        d, "value", 10, tiebreak_cols=["event_id"], out_col="bin_global",
        chunk_bounds=bounds,
    )
    g = pct_ops.quantile_bin(
        g,
        "value",
        4,
        tiebreak_cols=["event_id"],
        group_cols=["event_type"],
        out_col="bin_by_type",
        chunk_bounds=bounds,
    )
    return g.select("event_id", "event_type", F.round("value", 6).alias("value"),
                    "bin_global", "bin_by_type")


_SQL_QUANTILE_BIN = """
SELECT event_id, event_type, round(value, 6) AS value,
       CAST(((row_number() OVER (ORDER BY value, event_id) - 1) * 10)
            // (count(*) OVER ()) AS BIGINT) AS bin_global,
       CAST(((row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) - 1) * 4)
            // (count(*) OVER (PARTITION BY event_type)) AS BIGINT) AS bin_by_type
FROM events
WHERE value IS NOT NULL
"""


def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-past trailing time-range features (1h / 1d activity), the
    point-in-time feature-store staple. Runs the TIME-SALTED plan (chunk +
    carry); the oracle is the plain RANGE window — salting proven exact."""
    d = _t(spark, sf_dir, "events")
    r = temporal_ops.trailing_time_window(
        d,
        "value",
        [3600.0, 86400.0],
        key="user_id",
        ts_col="ts",
        aggs=("count", "sum"),
        strict_past=True,
        chunk_seconds=86400.0,
    )
    return r.select(
        "user_id",
        "event_id",
        F.col("value_count_3600s").alias("cnt_1h"),
        F.round("value_sum_3600s", 6).alias("sum_1h"),
        F.col("value_count_86400s").alias("cnt_1d"),
        F.round("value_sum_86400s", 6).alias("sum_1d"),
    )


_SQL_TRAILING_WINDOW = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events)
SELECT user_id, event_id,
       CAST(count(value) OVER w1 AS BIGINT) AS cnt_1h,
       round(sum(value) OVER w1, 6)         AS sum_1h,
       CAST(count(value) OVER w2 AS BIGINT) AS cnt_1d,
       round(sum(value) OVER w2, 6)         AS sum_1d
FROM e
WINDOW
  w1 AS (PARTITION BY user_id ORDER BY tus
         RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING),
  w2 AS (PARTITION BY user_id ORDER BY tus
         RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
"""


def q_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity (6h half-life), strictly past.
    Spark runs the two-phase chunked plan (chunk-anchored exponents +
    bounded cross-chunk fold); the oracle recomputes every row's decayed
    sum by brute-force self-join — chunking proven exact."""
    d = _t(spark, sf_dir, "events")
    r = temporal_ops.time_decayed_sum(
        d,
        "value",
        half_life_seconds=21600.0,
        key="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        out_col="decay_6h",
        strict_past=True,
        chunk_half_lives=8,
    )
    return r.select("user_id", "event_id", F.round("decay_6h", 6).alias("decay_6h"))


_SQL_TIME_DECAY = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts)/1000000.0 AS t, value FROM events
)
SELECT a.user_id, a.event_id,
       round(coalesce(sum(b.value * power(2.0, -(a.t - b.t)/21600.0)), 0.0), 6)
         AS decay_6h
FROM e a
LEFT JOIN e b
  ON a.user_id = b.user_id
 AND (b.t < a.t OR (b.t = a.t AND b.event_id < a.event_id))
GROUP BY a.user_id, a.event_id
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free target encoding of ``event_type`` (5 values — each a
    corpus-scale mega-key): expanding strictly-past mean of ``value`` in
    global (ts, event_id) order. Spark runs the two-phase chunked-cumsum
    plan; the oracle is the plain single-window expanding mean — the
    mega-key two-phase split proven exact."""
    # decimal(18,6) target: the expanding sums are EXACT and order-
    # independent, so the two-phase merge, the plain window, and DuckDB all
    # produce bit-identical encodings (same trick as the money sums)
    d = _t(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)")
    )
    r = temporal_ops.past_target_encode(
        d,
        "event_type",
        "value_dec",
        ts_col="ts",
        tiebreak_col="event_id",
        out_col="enc",
        chunk_seconds=172800.0,
    )
    return r.select(
        "event_id",
        "event_type",
        F.col("enc_n").alias("enc_n"),
        F.round("enc", 6).alias("enc"),
    )


_SQL_TARGET_ENCODE = """
WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS tus,
                  CAST(value AS DECIMAL(18,6)) AS v FROM events)
SELECT event_id, event_type,
       CAST(count(v) OVER w AS BIGINT) AS enc_n,
       round(CASE WHEN count(v) OVER w > 0
                  THEN CAST(sum(v) OVER w AS DOUBLE) / count(v) OVER w END, 6) AS enc
FROM e
WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


# --------------------------------------------------------------------------
# queries — transcript-native context ops (round 4): context-window
# assembly, conversation dedup, chunking, transition mining, loop detection
# --------------------------------------------------------------------------

def q_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free training-context assembly (context.trailing_context):
    for every turn, how many PRIOR turns — and how many tokens — still fit
    in a 64-token context budget alongside everything after them. One
    window cumsum + one RANGE frame ordered by the cumulative weight, both
    on the same (user) exchange: one shuffle, O(1) state per row, no
    collected lists. Token weight = length(props) (deterministic, >= 1 on
    this table, recomputable in any engine)."""
    from acoustic_feature_extractor_spark.operators import context as ctx_ops

    ev = _indexed_events(spark, sf_dir).withColumn(
        "n_tokens", F.length("props").cast("long")
    )
    r = ctx_ops.trailing_context(
        ev, "user_id", ("idx",), "n_tokens", budget=64
    )
    return r.select(
        "user_id",
        "event_id",
        "idx",
        F.col("ctx_turns"),
        F.col("ctx_tokens"),
        F.col("ctx_truncated"),
    )


_SQL_CONTEXT_ASSEMBLY = """
WITH b AS (
  SELECT user_id, event_id, CAST(length(props) AS BIGINT) AS w,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
  FROM events
),
c AS (
  SELECT *, sum(w) OVER (PARTITION BY user_id ORDER BY idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
)
SELECT user_id, event_id, idx,
       CAST(count(*) OVER wr AS BIGINT) AS ctx_turns,
       CAST(coalesce(sum(w) OVER wr, 0) AS BIGINT) AS ctx_tokens,
       idx > count(*) OVER wr AS ctx_truncated
FROM c
WINDOW wr AS (PARTITION BY user_id ORDER BY cum
              RANGE BETWEEN 64 PRECEDING AND 1 PRECEDING)
"""


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level dedup + shared-prefix families
    (context.dedup_conversations): order-sensitive 62-bit sequence
    fingerprints from ONE commutative groupBy sum of position-salted
    portable hashes — no collect_list, no sort, mega-conversations never
    land on one task. The prefix fingerprint (first 4 turns) groups
    conversations seeded identically. Oracle recomputes the identical
    fingerprints in DuckDB via the shared portable polynomial hash."""
    from acoustic_feature_extractor_spark.operators import context as ctx_ops

    ev = _indexed_events(spark, sf_dir)
    r = ctx_ops.dedup_conversations(
        ev, "user_id", "idx", "event_type", prefix_len=4
    )
    return r.select(
        "user_id",
        "conv_fp",
        "prefix_fp",
        "n_same_conv",
        "n_same_prefix",
        "is_canonical",
    )


def _sql_conv_dedup() -> str:
    # \x1f separator matches context._lane_hash (prevents ("a1", idx=1)
    # aliasing ("a", idx=11))
    phash = _sql_phash("(event_type || chr(31) || CAST(idx AS VARCHAR))")
    pmix = _sql_pmix("hv")
    return f"""
WITH b AS (
  SELECT user_id, event_type,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
  FROM events
),
h0 AS (SELECT user_id, idx, {phash} AS hv FROM b),
h AS (SELECT user_id, idx, {pmix} AS m FROM h0),
f AS (
  SELECT user_id,
         CAST((sum(m & 2147483647) % 2147483647) * 2147483648
              + (sum(m >> 31) % 2147483629) AS BIGINT) AS conv_fp
  FROM h GROUP BY 1
),
p AS (
  SELECT user_id,
         CAST((sum(m & 2147483647) % 2147483647) * 2147483648
              + (sum(m >> 31) % 2147483629) AS BIGINT) AS prefix_fp
  FROM h WHERE idx < 4 GROUP BY 1
),
j AS (
  SELECT f.user_id, f.conv_fp, coalesce(p.prefix_fp, -1) AS prefix_fp
  FROM f LEFT JOIN p ON f.user_id = p.user_id
)
SELECT user_id, conv_fp, prefix_fp,
       CAST(count(*) OVER (PARTITION BY conv_fp) AS BIGINT) AS n_same_conv,
       CAST(count(*) OVER (PARTITION BY prefix_fp) AS BIGINT) AS n_same_prefix,
       user_id = min(user_id) OVER (PARTITION BY conv_fp) AS is_canonical
FROM j
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG / long-context chunking (text.chunk_documents): every document
    split into 120-char windows every 90 chars (33% overlap, full
    coverage, stable (doc_id, chunk_idx) identity, md5 content address).
    Map-only — posexplode of a closed-form start sequence + substring, no
    shuffle at any corpus size."""
    d = _t(spark, sf_dir, "documents")
    r = tx.chunk_documents(d, "text", "doc_id", size=120, stride=90)
    return r.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_idx",
        "chunk_start",
        "chunk_len",
        "chunk_hash",
    )


_SQL_CHUNK_DOCUMENTS = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
),
k AS (
  SELECT doc_id, text,
         1 + (greatest(n - 120, 0) + 89) // 90 AS nchunks
  FROM d
),
u AS (
  SELECT doc_id, text, unnest(generate_series(0, nchunks - 1)) AS ci FROM k
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(ci AS BIGINT) AS chunk_idx,
       CAST(ci * 90 AS BIGINT) AS chunk_start,
       CAST(length(substring(text, CAST(ci * 90 + 1 AS INT), 120)) AS BIGINT) AS chunk_len,
       md5(substring(text, CAST(ci * 90 + 1 AS INT), 120)) AS chunk_hash
FROM u
"""


def q_turn_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-transition mining (context.transition_counts): the bigram
    Markov profile of per-conversation state sequences — transition counts
    and conditional shares P(state | prev_state). One lag window + one
    |states|^2-row groupBy."""
    from acoustic_feature_extractor_spark.operators import context as ctx_ops

    ev = _indexed_events(spark, sf_dir)
    r = ctx_ops.transition_counts(ev, "user_id", ("idx",), "event_type")
    return r.select("prev_state", "state", "n", "share")


_SQL_TURN_TRANSITIONS = """
WITH b AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev AS prev_state, event_type AS state,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY prev), 6) AS share
FROM b WHERE prev IS NOT NULL
GROUP BY 1, 2
"""


def q_degenerate_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-loop detection (context.degenerate_runs): longest
    same-state run per conversation plus the count of runs >= 3 (the
    stuck-agent / retry-storm curation signal). Gaps-and-islands on one
    (user) exchange; worst_state ties break to the lexicographically
    largest state so both engines agree."""
    from acoustic_feature_extractor_spark.operators import context as ctx_ops

    ev = _indexed_events(spark, sf_dir)
    r = ctx_ops.degenerate_runs(ev, "user_id", ("idx",), "event_type", min_run=3)
    return r.select("user_id", "max_run", "n_degenerate", "worst_state")


_SQL_DEGENERATE_LOOPS = """
WITH b AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island
  FROM events
),
r AS (
  SELECT user_id, event_type, island, count(*) AS run_len
  FROM b GROUP BY 1, 2, 3
),
m AS (SELECT *, max(run_len) OVER (PARTITION BY user_id) AS mr FROM r)
SELECT user_id,
       CAST(max(run_len) AS BIGINT) AS max_run,
       CAST(sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
       max(CASE WHEN run_len = mr THEN event_type END) AS worst_state
FROM m GROUP BY 1
"""


def q_stream_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING context-window assembly, oracle-checked end-to-end: the
    events table is replayed as a file stream in two in-order drops
    through ``streaming/sessions.streaming_trailing_context`` (GroupState
    bounded by the token budget, not conversation length), and the
    drained output must hash-match the BATCH SQL oracle — a streaming
    operator held to the same exact-equality bar as every batch one.
    Drop 1 = each conversation's early turns, drop 2 = the rest: state
    must carry the cumsum + retained window across the batch boundary.
    """
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_trailing_context,
    )

    ev = _indexed_events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("idx").cast("int").alias("turn_idx"),
        F.length("props").cast("long").alias("n_tokens"),
        "event_id",
    )
    drained = _drain_two_drops(
        spark,
        ev,
        F.col("turn_idx") < 3,
        lambda s: streaming_trailing_context(s, budget=64),
        "stream_ctx_",
        "append",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("turn_idx").cast("long").alias("idx"),
        "ctx_turns",
        "ctx_tokens",
        "ctx_truncated",
    )


_SQL_STREAM_CONTEXT = """
WITH b AS (
  SELECT user_id, CAST(length(props) AS BIGINT) AS w,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
  FROM events
),
c AS (
  SELECT *, sum(w) OVER (PARTITION BY user_id ORDER BY idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
)
SELECT user_id, idx,
       CAST(count(*) OVER wr AS BIGINT) AS ctx_turns,
       CAST(coalesce(sum(w) OVER wr, 0) AS BIGINT) AS ctx_tokens,
       idx > count(*) OVER wr AS ctx_truncated
FROM c
WINDOW wr AS (PARTITION BY user_id ORDER BY cum
              RANGE BETWEEN 64 PRECEDING AND 1 PRECEDING)
"""


def q_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time enrichment: THREE feature tables as-of
    joined onto the click spine in ONE shuffle (``point_in_time_enrich``
    — every fill frame shares one Window node; the naive form is 3
    sequential asof_joins = 3 exchanges). The error source carries a
    1-day tolerance so stale matches null out. Oracle: three DuckDB ASOF
    LEFT JOINs + the tolerance CASE."""
    ev = _t(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("vvalue"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.sum("value").alias("pvalue"), F.count("*").alias("pn"))
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.count("*").alias("en"))
    )
    j = asof_ops.point_in_time_enrich(
        spine,
        {"view": views, "purchase": purchases, "error": errors},
        on="ts",
        by="user_id",
        tolerance_seconds={"error": 86400.0},
    )
    return j.select(
        "user_id",
        "event_id",
        _ts_sec("ts").alias("ts_sec"),
        F.round("vvalue_view", 6).alias("view_value"),
        F.round(_sec("ts_view"), 6).alias("view_ts_sec"),
        F.round("pvalue_purchase", 6).alias("purchase_value"),
        F.col("pn_purchase").alias("purchase_n"),
        F.round(_sec("ts_purchase"), 6).alias("purchase_ts_sec"),
        F.col("en_error").alias("error_n"),
        F.round(_sec("ts_error"), 6).alias("error_ts_sec"),
    )


_SQL_PIT_ENRICH = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
v AS (
  SELECT user_id, ts, max(value) AS vvalue FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT user_id, ts, sum(value) AS pvalue, count(*) AS pn FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
),
e AS (
  SELECT user_id, ts, count(*) AS en FROM events
  WHERE event_type = 'error' GROUP BY user_id, ts
),
j1 AS (
  SELECT c.user_id, c.event_id, c.ts, v.vvalue, v.ts AS vts
  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
),
j2 AS (
  SELECT j1.*, p.pvalue, p.pn, p.ts AS pts
  FROM j1 ASOF LEFT JOIN p ON j1.user_id = p.user_id AND j1.ts >= p.ts
),
j3 AS (
  SELECT j2.*, e.en, e.ts AS ets
  FROM j2 ASOF LEFT JOIN e ON j2.user_id = e.user_id AND j2.ts >= e.ts
)
SELECT user_id, event_id,
       round(epoch_us(ts)/1000000.0, 6) AS ts_sec,
       round(vvalue, 6) AS view_value,
       round(epoch_us(vts)/1000000.0, 6) AS view_ts_sec,
       round(pvalue, 6) AS purchase_value,
       pn AS purchase_n,
       round(epoch_us(pts)/1000000.0, 6) AS purchase_ts_sec,
       CASE WHEN epoch_us(ts) - epoch_us(ets) <= 86400.0 * 1000000 THEN en END AS error_n,
       CASE WHEN epoch_us(ts) - epoch_us(ets) <= 86400.0 * 1000000
            THEN round(epoch_us(ets)/1000000.0, 6) END AS error_ts_sec
FROM j3
"""


def q_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged expanding-window CV folds (``time_series_folds``): exact
    quantile cuts, 12h embargo purge between train and validation.
    Map-only after one 1-row broadcast aggregate — the fact table never
    shuffles. Oracle recomputes tiles from ``quantile_cont`` cuts."""
    ev = _t(spark, sf_dir, "events")
    f = temporal_ops.time_series_folds(
        ev.select("user_id", "event_id", "ts"),
        ts_col="ts",
        n_folds=5,
        embargo_seconds=43200.0,
    )
    return f.select(
        "user_id",
        "event_id",
        F.col("fold").cast("long").alias("fold"),
        "role",
    )


_SQL_CV_FOLDS = """
WITH s AS (SELECT user_id, event_id, epoch_us(ts)/1000000.0 AS tsec FROM events),
c AS (SELECT quantile_cont(tsec, [0.2, 0.4, 0.6, 0.8]) AS cuts FROM s),
t AS (
  SELECT s.user_id, s.event_id, s.tsec, c.cuts,
         1 + (CASE WHEN s.tsec > c.cuts[1] THEN 1 ELSE 0 END)
           + (CASE WHEN s.tsec > c.cuts[2] THEN 1 ELSE 0 END)
           + (CASE WHEN s.tsec > c.cuts[3] THEN 1 ELSE 0 END)
           + (CASE WHEN s.tsec > c.cuts[4] THEN 1 ELSE 0 END) AS tile
  FROM s CROSS JOIN c
),
a AS (
  SELECT t.user_id, t.event_id, CAST(f.fold AS BIGINT) AS fold,
         CASE WHEN t.tile = f.fold THEN 'valid'
              WHEN t.tsec <= t.cuts[f.fold - 1] - 43200.0 THEN 'train'
         END AS role
  FROM t CROSS JOIN (SELECT unnest([2, 3, 4, 5]) AS fold) f
)
SELECT * FROM a WHERE role IS NOT NULL
"""


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (``population_stability``): PSI of the
    value column between the first 15 days (reference) and the rest
    (current), per event_type, 8 reference-quantile bins. The time split
    is epoch-double (tz-independent)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value", "ts")
    cut = 1705363200.0  # 2024-01-16 00:00:00 UTC
    ref = ev.where(_sec("ts") < cut)
    cur = ev.where(_sec("ts") >= cut)
    r = stats_ops.population_stability(
        ref, cur, "value", by=["event_type"], bins=8, eps=1e-6
    )
    return r.select(
        "event_type",
        F.col("bin").cast("long").alias("bin"),
        "n_ref",
        "n_cur",
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round("psi_term", 6).alias("psi_term"),
    )


_SQL_DRIFT_PSI = """
WITH s AS (
  SELECT event_type, value, epoch_us(ts)/1000000.0 AS tsec FROM events
),
r AS (SELECT * FROM s WHERE tsec < 1705363200.0),
c AS (SELECT * FROM s WHERE tsec >= 1705363200.0),
cuts AS (
  SELECT event_type,
         quantile_cont(value, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cu
  FROM r GROUP BY event_type
),
rb AS (
  SELECT r.event_type,
         1 + (CASE WHEN value > cu[1] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[2] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[3] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[4] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[5] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[6] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[7] THEN 1 ELSE 0 END) AS bin
  FROM r JOIN cuts USING (event_type)
),
cb AS (
  SELECT c.event_type,
         1 + (CASE WHEN value > cu[1] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[2] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[3] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[4] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[5] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[6] THEN 1 ELSE 0 END)
           + (CASE WHEN value > cu[7] THEN 1 ELSE 0 END) AS bin
  FROM c JOIN cuts USING (event_type)
),
spine AS (
  SELECT event_type, CAST(f.bin AS BIGINT) AS bin
  FROM cuts CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8]) AS bin) f
),
counted AS (
  SELECT spine.event_type, spine.bin,
         coalesce(rn.n, 0) AS n_ref, coalesce(cn.n, 0) AS n_cur
  FROM spine
  LEFT JOIN (SELECT event_type, bin, count(*) AS n FROM rb GROUP BY 1, 2) rn
    USING (event_type, bin)
  LEFT JOIN (SELECT event_type, bin, count(*) AS n FROM cb GROUP BY 1, 2) cn
    USING (event_type, bin)
),
shares AS (
  SELECT event_type, bin, n_ref, n_cur,
         (n_ref + 1e-6) / (sum(n_ref) OVER (PARTITION BY event_type) + 8e-6) AS p,
         (n_cur + 1e-6) / (sum(n_cur) OVER (PARTITION BY event_type) + 8e-6) AS q
  FROM counted
)
SELECT event_type, bin, n_ref, n_cur,
       round(p, 6) AS p, round(q, 6) AS q,
       round((p - q) * ln(p / q), 6) AS psi_term
FROM shares
"""


def q_response_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency feature (``temporal.time_since_event``): per event, seconds
    since the user's most recent STRICTLY-PAST click (NULL before the
    first). A running conditional max over one RANGE frame ending 1 µs
    before the current row — same-timestamp ties never see each other,
    and the (user, t) sort is shared with every other window feature.
    Oracle: the identical frame in DuckDB over epoch_us order."""
    ev = _t(spark, sf_dir, "events")
    r = temporal_ops.time_since_event(
        ev,
        F.col("event_type") == "click",
        key="user_id",
        ts_col="ts",
        out_col="since_click_s",
    )
    return r.select(
        "user_id",
        "event_id",
        "event_type",
        F.round("since_click_s", 6).alias("since_click_s"),
    )


_SQL_RESPONSE_LATENCY = """
WITH b AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
)
SELECT user_id, event_id, event_type,
       round((tus - max(CASE WHEN event_type = 'click' THEN tus END)
              OVER (PARTITION BY user_id ORDER BY tus
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             / 1000000.0, 6) AS since_click_s
FROM b
"""


def q_future_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-horizon LABEL construction (``temporal.future_outcomes``):
    per event, over the user's rows in ``(t, t+1h]`` — error count,
    any-error flag, seconds to the first error, summed error value. The
    supervised twin of the leak-free features: labels read strictly
    FORWARD (the row never labels itself; same-ts ties aren't "future"),
    so a feature+label join at (entity, ts) has zero frame overlap. One
    RANGE frame on the shared (user, t) sort."""
    ev = _t(spark, sf_dir, "events")
    r = temporal_ops.future_outcomes(
        ev,
        F.col("event_type") == "error",
        horizon_seconds=3600.0,
        key="user_id",
        ts_col="ts",
        value_col="value",
        prefix="err",
    )
    return r.select(
        "user_id",
        "event_id",
        "err_n",
        "err_any",
        F.round("err_ttf_s", 6).alias("err_ttf_s"),
        F.round("err_sum", 6).alias("err_sum"),
    )


_SQL_FUTURE_LABEL = """
WITH b AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus FROM events
)
SELECT user_id, event_id,
       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) OVER fwd AS BIGINT) AS err_n,
       count(CASE WHEN event_type = 'error' THEN 1 END) OVER fwd > 0 AS err_any,
       round((min(CASE WHEN event_type = 'error' THEN tus END) OVER fwd - tus)
             / 1000000.0, 6) AS err_ttf_s,
       round(sum(CASE WHEN event_type = 'error' THEN value END) OVER fwd, 6) AS err_sum
FROM b
WINDOW fwd AS (PARTITION BY user_id ORDER BY tus
               RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING)
"""


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency sketch (``sketches.cms_rollup``), graded
    through its MERGE path: per-event_type sketches are built first, then
    folded to one global counter table with ``cms_coarser`` (cell-wise
    sum — the cascade contract), and every distinct user is point-queried
    against the merged sketch (min over depth rows). Width 64 on ~1,700
    users FORCES collisions, so the oracle — which replays the identical
    portable hashes, counter sums, and min-probe in DuckDB — is pinning
    the one-sided collision arithmetic, not a trivial exact count."""
    ev = _t(spark, sf_dir, "events")
    # the interpreted portable fold is the per-row cost; spread it over
    # every core when the source is one small parquet file (one input
    # split). This costs a shuffle of the 2-column projection — the right
    # trade only in this under-split regime; at real scale the scan is
    # already thousands of splits and a caller uses cms_rollup directly.
    facts = ev.select(
        "event_type", F.col("user_id").cast("string").alias("item")
    ).repartition(spark.sparkContext.defaultParallelism)
    per_type = sk_ops.cms_rollup(facts, "item", by="event_type", depth=4, width=64)
    merged = sk_ops.cms_coarser(per_type, by=None)
    items = facts.select("item").distinct()
    est = sk_ops.cms_estimate(merged, items, "item", depth=4, width=64)
    return est.select("item", "freq_est")


def _sql_sketch_cms() -> str:
    # Kirsch-Mitzenmacher lanes: ONE polynomial fold per item (hb), a
    # swapped-halves remix for the second lane (hs), then
    # bucket_d = (b1 + d*b2) % width — identical to _cms_bucket_cols
    return f"""
WITH f AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
cnt AS (SELECT item, count(*) AS n FROM f GROUP BY item),
h0 AS (SELECT item, n, {_sql_phash('item')} AS hb FROM cnt),
h1 AS (
  SELECT item, n, hb, ((hb >> 31) + ((hb & 2147483647) << 31)) AS hs FROM h0
),
h2 AS (
  SELECT item, n, ({_sql_pmix('hb')}) % 64 AS b1,
         ({_sql_pmix('hs')}) % 64 AS b2
  FROM h1
),
hb AS (
  SELECT item, n, d, (b1 + d * b2) % 64 AS bucket
  FROM h2 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) dd
),
sk AS (SELECT d, bucket, sum(n) AS cnt FROM hb GROUP BY d, bucket),
est AS (
  SELECT hb.item, min(sk.cnt) AS freq_est
  FROM hb JOIN sk USING (d, bucket) GROUP BY hb.item
)
SELECT item, CAST(freq_est AS BIGINT) AS freq_est FROM est
"""


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives (``sample.negative_sample``):
    every 7th document anchors 3 pseudo-random pool draws. The pool's
    dense [0, N) index is built WITHOUT a global sort (bucket-rank +
    broadcast offsets) but equals ``row_number() OVER (ORDER BY bucket,
    h, id) - 1`` — which is exactly what the oracle recomputes, so the
    hash match proves the two-phase index AND the picks are
    engine/partitioning-independent."""
    d = _t(spark, sf_dir, "documents")
    anchors = d.where(F.col("doc_id") % 7 == 0)
    r = sample_ops.negative_sample(
        anchors, d, k=3, anchor_col="doc_id", pool_col="doc_id",
        seed=7, buckets=16,
    )
    return r.select(
        "doc_id_anchor",
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "doc_id_negative",
    )


def _sql_negative_sample() -> str:
    ph = "concat_ws(':', CAST(doc_id AS VARCHAR), '7')"
    pa = "concat_ws(':', CAST(aid AS VARCHAR), CAST(j AS VARCHAR), '8')"
    return f"""
WITH h0 AS (SELECT doc_id, {_sql_phash(ph)} AS hr FROM documents),
hx AS (SELECT doc_id, {_sql_pmix('hr')} AS h FROM h0),
ix AS (
  SELECT doc_id, row_number() OVER (ORDER BY h % 16, h, doc_id) - 1 AS idx
  FROM hx
),
n AS (SELECT count(*) AS nn FROM documents),
pj AS (
  SELECT doc_id AS aid, j
  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) dd
  WHERE doc_id % 7 = 0
),
ph0 AS (SELECT aid, j, {_sql_phash(pa)} AS hr FROM pj),
phx AS (SELECT aid, j, ({_sql_pmix('hr')}) % (SELECT nn FROM n) AS pick FROM ph0)
SELECT phx.aid AS doc_id_anchor, CAST(j AS BIGINT) AS neg_rank,
       ix.doc_id AS doc_id_negative
FROM phx JOIN ix ON phx.pick = ix.idx
WHERE ix.doc_id != phx.aid
"""


def q_pit_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-freshness audit of the point-in-time join: per feature
    source, match rate and the staleness distribution (spine ts − matched
    feature ts) — the join-quality dashboard a feature store publishes
    next to every PIT backfill. Reuses the single-shuffle
    ``point_in_time_enrich`` (same three sources + tolerance as
    ``pit_enrich``), unpivots the K matched timestamps with one
    ``stack``, and aggregates per source: all map-side work on the
    enriched frame, one |sources|-row result."""
    ev = _t(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("vvalue"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.sum("value").alias("pvalue"))
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.count("*").alias("en"))
    )
    j = asof_ops.point_in_time_enrich(
        spine,
        {"view": views, "purchase": purchases, "error": errors},
        on="ts",
        by="user_id",
        tolerance_seconds={"error": 86400.0},
    )
    long = j.select(
        _sec("ts").alias("t"),
        F.expr(
            "stack(3, 'view', ts_view, 'purchase', ts_purchase, "
            "'error', ts_error) AS (source, mts)"
        ),
    ).withColumn("stale_s", F.col("t") - _sec("mts"))
    return (
        long.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_spine"),
            F.count("mts").alias("n_matched"),
            F.round(F.count("mts") / F.count(F.lit(1)), 6).alias("match_rate"),
            F.round(F.expr("percentile(stale_s, 0.5)"), 6).alias("p50_stale_s"),
            F.round(F.expr("percentile(stale_s, 0.9)"), 6).alias("p90_stale_s"),
            F.round(F.max("stale_s"), 6).alias("max_stale_s"),
        )
    )


_SQL_PIT_STALENESS = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
e AS (
  SELECT user_id, ts FROM events WHERE event_type = 'error' GROUP BY user_id, ts
),
j1 AS (
  SELECT c.user_id, c.event_id, c.ts, v.ts AS vts
  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
),
j2 AS (
  SELECT j1.*, p.ts AS pts
  FROM j1 ASOF LEFT JOIN p ON j1.user_id = p.user_id AND j1.ts >= p.ts
),
j3 AS (
  SELECT j2.*,
         CASE WHEN epoch_us(j2.ts) - epoch_us(e.ts) <= 86400.0 * 1000000
              THEN e.ts END AS ets
  FROM j2 ASOF LEFT JOIN e ON j2.user_id = e.user_id AND j2.ts >= e.ts
),
long AS (
  SELECT epoch_us(ts)/1000000.0 AS t, u.source,
         CASE u.source WHEN 'view' THEN epoch_us(vts)/1000000.0
                       WHEN 'purchase' THEN epoch_us(pts)/1000000.0
                       ELSE epoch_us(ets)/1000000.0 END AS mt
  FROM j3 CROSS JOIN (SELECT unnest(['view', 'purchase', 'error']) AS source) u
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_spine,
       CAST(count(mt) AS BIGINT) AS n_matched,
       round(CAST(count(mt) AS DOUBLE) / count(*), 6) AS match_rate,
       round(quantile_cont(t - mt, 0.5), 6) AS p50_stale_s,
       round(quantile_cont(t - mt, 0.9), 6) AS p90_stale_s,
       round(max(t - mt), 6) AS max_stale_s
FROM long GROUP BY source
"""


_FV_FEATURES = ["dt_prev_sec", "roll_val_mean", "value_z"]


def q_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/serve vector assembly (``features.assemble_feature_vector``):
    the flagship feature columns packed into one ``array<double>`` with a
    pinned (feature_idx, feature_name) manifest and zero-imputed NULLs
    (row keeps the honest imputation count). Graded LONG-FORM — the
    vector is posexploded and joined back to the broadcast manifest, so
    every array element is compared as a canonicalized scalar and the
    manifest ordering itself is part of the hash."""
    base = q_flagship_features(spark, sf_dir)
    v, mani = feat_ops.assemble_feature_vector(
        base, _FV_FEATURES, impute=0.0, null_count_col="n_null"
    )
    return (
        v.select(
            "user_id",
            "event_id",
            "n_null",
            F.posexplode("features").alias("feature_idx", "fval"),
        )
        .join(F.broadcast(mani), "feature_idx")
        .select(
            "user_id",
            "event_id",
            F.col("feature_idx").cast("long").alias("feature_idx"),
            "feature_name",
            F.round("fval", 6).alias("fval"),
            F.col("n_null").cast("long").alias("n_null"),
        )
    )


def _sql_feature_vector() -> str:
    names = ", ".join(f"'{n}'" for n in _FV_FEATURES)
    cols = ", ".join(f"coalesce({c}, 0.0)" for c in _FV_FEATURES)
    nulls = " + ".join(
        f"CASE WHEN {c} IS NULL THEN 1 ELSE 0 END" for c in _FV_FEATURES
    )
    return f"""
WITH base AS ({{flagship}}),
v AS (
  SELECT user_id, event_id, [{cols}] AS vec,
         CAST({nulls} AS BIGINT) AS n_null
  FROM base
)
SELECT user_id, event_id,
       CAST(u.i - 1 AS BIGINT) AS feature_idx,
       ([{names}])[u.i] AS feature_name,
       round(vec[u.i], 6) AS fval,
       n_null
FROM v CROSS JOIN unnest(generate_series(1, {len(_FV_FEATURES)})) AS u(i)
"""


# --------------------------------------------------------------------------
# round-5 streaming driver queries: each drains a streaming twin through a
# file-stream replay in two in-order drops and must hash-match a BATCH SQL
# oracle — the q_stream_context pattern, extended to the stateful CUSUM,
# the commutative fingerprint aggregation, and the two-slot recency state
# (SURVEY §5(f): streaming parity held to the same oracle bar as batch).
# --------------------------------------------------------------------------


def _drain_two_drops(
    spark, full_df, first_pred, build_stream, name_prefix, output_mode,
    stream_partitions=8,
):
    """Write ``full_df`` rows matching ``first_pred`` as drop 1, start the
    stream ``build_stream(readStream_df)``, drain, append the remaining
    rows as drop 2, drain again, and return the memory-sink table. The
    two-drop replay forces every operator's cross-micro-batch state to
    carry (a single drop would hide a broken carry).

    ``output_mode`` is the caller's: ``"complete"`` for the plain
    streaming aggregations (the memory sink then holds the final result
    table), ``"append"`` for the stateful GroupState twins and the
    stateless joins, whose rows are final when emitted.

    The stream runs at shuffle.partitions=``stream_partitions``
    (restored after): every stateful stage provisions one state store
    per shuffle partition PER micro-batch, a fixed cost this replay
    harness pays twice — at the gate's sf0.01 (and the bench's sf0.1)
    8 stores bound that overhead while leaving parallelism ample for
    JVM aggregations. Operators whose per-batch work is PYTHON-side
    over many small groups (e.g. the per-(user, slot) seasonal state)
    pass a higher count instead — there the Python workers' parallelism
    dominates, not the state-store fixed cost. Production streams size
    this to their cluster as usual; results are partitioning-invariant
    (the oracle gate would catch anything else)."""
    import tempfile

    d = tempfile.mkdtemp(prefix=name_prefix)
    src = os.path.join(d, "in")
    # NULL-safe split: a row whose predicate evaluates NULL must still
    # land in exactly one drop (plain where(p)/where(~p) would drop it
    # from BOTH — e.g. a NULL-timestamp row under a time cut)
    first_pred = F.coalesce(first_pred, F.lit(False))
    full_df.where(first_pred).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = build_stream(spark.readStream.schema(schema).parquet(src))
    name = f"{name_prefix}{os.path.basename(d)}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_partitions))
    try:
        q = (
            stream.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            full_df.where(~first_pred).write.mode("append").parquet(src)
            q.processAllAvailable()
            drained = spark.table(name).localCheckpoint(eager=True)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return drained


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING two-sided CUSUM (``streaming/sessions.streaming_cusum``),
    oracle-checked end-to-end: the per-user value series replays as a
    file stream in two time-ordered drops, the (S⁺, S⁻) water marks carry
    across the micro-batch boundary in GroupState, and the drained scores
    must hash-match the batch prefix-algebra identity in DuckDB. The
    standardization baseline is a FROZEN literal (mu=50, sigma=50) — the
    caller's reference statistic shipped into the stream, never
    aggregated from it (leak-free by construction). The series is
    pre-aggregated to one row per (user, ts) with max(value) so both
    engines fold an identical, unambiguous order."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_cusum,
    )

    ev = _t(spark, sf_dir, "events")
    ser = (
        ev.groupBy(F.col("user_id").cast("string").alias("conv_id"), "ts")
        .agg(F.max("value").alias("value"))
    )
    cut = 1705363200.0  # 2024-01-16 00:00:00 — drop 1 strictly earlier
    drained = _drain_two_drops(
        spark,
        ser,
        _sec("ts") < cut,
        lambda s: streaming_cusum(s, mu=50.0, sigma=50.0, k=0.5, h=5.0),
        "stream_cusum_",
        "append",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.round("value", 6).alias("value"),
        F.round("s_pos", 6).alias("s_pos"),
        F.round("s_neg", 6).alias("s_neg"),
        "alarm",
    )


_SQL_STREAM_CUSUM = """
WITH ser AS (
  SELECT user_id, ts, max(value) AS value FROM events GROUP BY 1, 2
),
z AS (
  SELECT user_id, ts, value,
         (value - 50.0) / 50.0 AS z
  FROM ser
),
c1 AS (
  SELECT user_id, ts, value, z,
         sum(z - 0.5)  OVER w AS cp,
         sum(-z - 0.5) OVER w AS cn
  FROM z
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT user_id, value, cp, cn,
         least(0, min(cp) OVER w2) AS mp,
         least(0, min(cn) OVER w2) AS mn
  FROM c1
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       round(value, 6) AS value,
       round(cp - mp, 6) AS s_pos,
       round(cn - mn, 6) AS s_neg,
       (cp - mp > 5.0 OR cn - mn > 5.0) AS alarm
FROM c
"""


def q_stream_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING conversation fingerprints
    (``streaming/sessions.streaming_conv_fingerprint``): because the
    batch fingerprint is a commutative sum of position-salted portable
    hashes, the streaming twin is a PLAIN streaming aggregation — state
    per conversation is two longs, and after draining two arbitrary-split
    drops the complete-mode table must equal the batch fingerprint over
    all turns, bit-for-bit (integer arithmetic, no tolerance). Oracle:
    the identical polynomial hash + lane fold in DuckDB."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_conv_fingerprint,
    )

    ev = _indexed_events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("idx").cast("int").alias("turn_idx"),
        F.col("event_type").alias("text"),
    )
    drained = _drain_two_drops(
        spark,
        ev,
        F.col("turn_idx") < 3,
        lambda s: streaming_conv_fingerprint(s),
        "stream_fp_",
        "complete",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"), "conv_fp"
    )


def _sql_stream_fingerprint() -> str:
    phash = _sql_phash("(event_type || chr(31) || CAST(idx AS VARCHAR))")
    pmix = _sql_pmix("hv")
    return f"""
WITH b AS (
  SELECT user_id, event_type,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
  FROM events
),
h0 AS (SELECT user_id, idx, {phash} AS hv FROM b),
h AS (SELECT user_id, idx, {pmix} AS m FROM h0)
SELECT user_id,
       CAST((sum(m & 2147483647) % 2147483647) * 2147483648
            + (sum(m >> 31) % 2147483629) AS BIGINT) AS conv_fp
FROM h GROUP BY 1
"""


def q_stream_time_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING recency (``streaming/sessions.streaming_time_since_event``):
    seconds since the user's most recent STRICTLY-PAST click, replayed in
    two time-ordered drops so the two-slot (newest, next-newest) mark
    state must carry across the micro-batch boundary — including
    exact-timestamp ties straddling it, the case a single-slot carry gets
    wrong. All mark arithmetic is int64 (no 2^53 float bound; ADVICE r5).
    Oracle: the batch RANGE-frame conditional max, as in
    ``response_latency``."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_time_since_event,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
    )
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_time_since_event(s, "is_click"),
        "stream_tse_",
        "append",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"),
        "is_click",
        F.round("since_s", 6).alias("since_s"),
    )


_SQL_STREAM_TIME_SINCE = """
WITH b AS (
  SELECT user_id, event_type = 'click' AS is_click, epoch_us(ts) AS tus
  FROM events
)
SELECT user_id, is_click,
       round((tus - max(CASE WHEN is_click THEN tus END)
              OVER (PARTITION BY user_id ORDER BY tus
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             / 1000000.0, 6) AS since_s
FROM b
"""



def q_snapshot_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log compaction + expiry (snapshots.compact_log / expire),
    driver-graded end-to-end: six append commits build a 6-entry log
    (12 range-clustered files), ``compact_log(keep_last=1)`` folds the
    dropped entries' per-file stats into the survivor — and the query
    RAISES unless (a) exactly 5 entries dropped, (b) a 40%-of-span
    time-range ``plan_scan`` prunes the SAME file set before and after
    the fold (metadata-only compaction must not cost one byte of
    skipping). An overwrite then orphans all six append dirs and
    ``expire(keep_last=1)`` must delete exactly those six while the
    survivor still prunes. The returned aggregate reads the post-expiry
    table through ``read_where``; the oracle is the plain raw-table
    filter, proving the whole maintenance cycle result-invariant.
    Analog of Iceberg expire_snapshots; the log stays O(live files +
    keep_last) no matter how many commits the table has seen."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(_sec("ts") * F.lit(1000000.0)).cast("long").alias("ts_us"),
        "value",
    )
    t = tempfile.mkdtemp(prefix="compact_query_")
    mn_us, mx_us = ev.select(F.min("ts_us"), F.max("ts_us")).collect()[0]
    span = mx_us - mn_us
    # commit i carries time-sextile i (the natural ingest pattern: each
    # batch covers its own time slice), so per-file stats are narrow and
    # a time-range scan can actually skip files
    sextile = ((F.col("ts_us") - F.lit(mn_us)) * 6 / F.lit(span + 1)).cast(
        "int"
    )
    for i in range(6):
        snap.commit(
            ev.where(sextile == i).repartitionByRange(2, "ts_us"), t
        )
    lo = mn_us + int(0.2 * span)
    hi = mn_us + int(0.6 * span)
    kept_pre, total_pre = snap.plan_scan(t, {"ts_us": (lo, hi)})
    dropped = snap.compact_log(t, keep_last=1)
    kept_post, total_post = snap.plan_scan(t, {"ts_us": (lo, hi)})
    if dropped != 5 or len(snap.history(t)) != 1:
        raise RuntimeError(f"compact_log evidence failed: dropped {dropped}")
    if sorted(kept_pre) != sorted(kept_post) or total_pre != total_post:
        raise RuntimeError(
            "stats fold lost skipping: "
            f"{len(kept_pre)}/{total_pre} -> {len(kept_post)}/{total_post}"
        )
    if not (total_pre == 12 and 0 < len(kept_pre) < total_pre):
        raise RuntimeError(
            f"pruning evidence failed: kept {len(kept_pre)} of {total_pre}"
        )
    snap.commit(
        ev.repartitionByRange(8, "ts_us"), t, operation="overwrite"
    )
    deleted = snap.expire(t, keep_last=1)
    if len(deleted) != 6:
        raise RuntimeError(f"expire evidence failed: deleted {deleted}")
    kept_f, total_f = snap.plan_scan(t, {"ts_us": (lo, hi)})
    if not (total_f == 8 and 0 < len(kept_f) < total_f):
        raise RuntimeError(
            f"post-expiry pruning failed: kept {len(kept_f)} of {total_f}"
        )
    df = snap.read_where(spark, t, {"ts_us": (lo, hi)})
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_v"),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
    )


_SQL_SNAPSHOT_COMPACT = """
WITH b AS (
  SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) - epoch_us(min(ts)) AS span
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v,
       ROUND(min(value), 6) AS min_v,
       ROUND(max(value), 6) AS max_v
FROM events, b
WHERE epoch_us(ts) >= mn + CAST(floor(0.2 * span) AS BIGINT)
  AND epoch_us(ts) <= mn + CAST(floor(0.6 * span) AS BIGINT)
GROUP BY 1
"""



def q_stream_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING forward-fill (``streaming/sessions.streaming_state_fill``
    — the custom stateful operator of the charter's
    ``applyInPandasWithState`` shape): the latest click's props string
    per user, carried across the two-drop micro-batch boundary in one
    GroupState string slot. Oracle: the batch last_value IGNORE NULLS
    frame, as in ``forward_fill``."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_state_fill,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        F.when(F.col("event_type") == "click", F.col("props")).alias("v"),
    )
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_state_fill(s, value_col="v"),
        "stream_fill_",
        "append",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"), "v", "filled"
    )


_SQL_STREAM_FILL = """
WITH b AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN event_type = 'click' THEN props END AS v
  FROM events
)
SELECT user_id, v,
       last_value(v IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY tus
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM b
"""


def q_stream_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING seasonal baseline
    (``streaming/sessions.streaming_seasonal_baseline``): each event
    scored against the user's trailing mean at the SAME hour-of-day
    slot, strictly past, with each user's per-slot (count, sum) arrays
    in GroupState crossing the two-drop boundary — same state bytes as
    the batch operator's (user, slot) exchange, one state row per user.
    Oracle:
    the batch strict-past frame on (user, slot), as in
    ``seasonal_baseline``."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_seasonal_baseline,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "ts", "value"
    )
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_seasonal_baseline(s),
        "stream_seas_",
        "append",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("slot").cast("long").alias("slot"),
        F.round("value", 6).alias("value"),
        F.col("n_slot_past").cast("long").alias("n_slot_past"),
        F.round("seasonal_mean", 6).alias("seasonal_mean"),
    )


_SQL_STREAM_SEASONAL = """
WITH s AS (
  SELECT user_id, value,
         CAST(floor((epoch_us(ts) % 86400000000) / 3600000000.0) AS BIGINT) AS slot,
         epoch_us(ts) AS eus
  FROM events
),
w AS (
  SELECT user_id, slot, value,
         count(value) OVER fr AS n_slot_past,
         sum(value)   OVER fr AS s_past
  FROM s
  WINDOW fr AS (PARTITION BY user_id, slot ORDER BY eus
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CAST(user_id AS BIGINT) AS user_id, slot,
       round(value, 6) AS value,
       CAST(n_slot_past AS BIGINT) AS n_slot_past,
       CASE WHEN n_slot_past > 0 THEN round(s_past / n_slot_past, 6) END AS seasonal_mean
FROM w
"""



def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING hypertable rollup (``streaming/sessions.streaming_rollup``):
    the watermarked per-(user, hour-bucket) continuous aggregate drained
    over a two-drop replay must equal the batch rollup of the same facts
    — the lambda-architecture closure (a ``snapshot_sink`` of this
    stream IS the table ``rollup_coarser`` cascades from) held to the
    oracle bar. Complete-mode drain; the bucket grid is the same
    epoch-floor the batch ``time_bucket`` uses."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_rollup,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_rollup(s, 3600.0, watermark=None),
        "stream_rollup_",
        "complete",
    )
    return drained.select(
        F.col("user_id").cast("long").alias("user_id"),
        _sec("bucket").cast("double").alias("bucket_sec"),
        F.col("n").cast("long").alias("n"),
        F.round("sum_v", 6).alias("sum_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round(_sec("first_ts"), 6).alias("first_ts_sec"),
        F.round(_sec("last_ts"), 6).alias("last_ts_sec"),
        F.round("avg_v", 6).alias("avg_v"),
    )


_SQL_STREAM_ROLLUP = _sql_rollup(3600)


def q_stream_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING histogram sketches
    (``streaming/sessions.streaming_hist_rollup``): per-(user,
    hour-bucket) fixed-range histograms over the two-drop replay,
    exported bin-per-row; the oracle recomputes every bin from raw facts
    over a dense spine. Stream-landed histograms must be BIT-IDENTICAL
    to batch (integer counters, pinned [0,512)/16 domain, same literal
    binning arithmetic) — the mergeable-sketch at-rest contract."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_hist_rollup,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_hist_rollup(
            s, 3600.0, lo=0.0, hi=512.0, bins=16, watermark=None
        ),
        "stream_hist_",
        "complete",
    )
    return drained.select(
        F.col("user_id").cast("long").alias("user_id"),
        _sec("bucket").cast("double").alias("bucket_sec"),
        F.posexplode("hist").alias("bin", "cnt"),
    ).select(
        "user_id",
        "bucket_sec",
        F.col("bin").cast("long").alias("bin"),
        F.col("cnt").cast("long").alias("cnt"),
    )


_SQL_STREAM_HIST = """
WITH b AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS DOUBLE) AS bucket_sec,
         CAST(least(greatest(floor(value / 32.0), 0), 15) AS BIGINT) AS bin0
  FROM events
),
g AS (SELECT user_id, bucket_sec, bin0, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
spine AS (
  SELECT DISTINCT user_id, bucket_sec, s.b FROM b, generate_series(0, 15) AS s(b)
)
SELECT CAST(s.user_id AS BIGINT) AS user_id, s.bucket_sec,
       CAST(s.b AS BIGINT) AS bin,
       CAST(COALESCE(g.cnt, 0) AS BIGINT) AS cnt
FROM spine s
LEFT JOIN g ON s.user_id = g.user_id AND s.bucket_sec = g.bucket_sec AND s.b = g.bin0
"""



def q_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HLL distinct rollup
    (``streaming/sessions.streaming_distinct_rollup``): per-(event_type,
    hour) distinct-user sketches maintained INCREMENTALLY across the
    two-drop replay (complete-mode state = one HLL buffer per open
    group), then finalized and held to the same contract as the batch
    ``sketch_distinct``: exact columns hash-compared, the estimate
    exported as an ``est_ok`` bound check vs an independently computed
    exact distinct."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_distinct_rollup,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "user_id")
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_distinct_rollup(
            s, 3600.0, by="event_type", value_col="user_id", watermark=None
        ),
        "stream_dist_",
        "complete",
    )
    est = sk_ops.with_estimate(drained)
    return _sketch_export(est, _exact_distinct(_t(spark, sf_dir, "events"), 3600.0))


_SQL_STREAM_DISTINCT = _sql_sketch(3600)


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gap sessionization (``streaming/sessions.
    streaming_session_agg``): per-user ``session_window`` aggregates over
    the two-drop replay — sessions STRADDLING the drop boundary must
    merge in the session-window state store, the cross-batch behavior a
    single drain can't exercise. Oracle: batch cumsum-of-gaps
    sessionization with the session_window boundary semantics (right-open:
    a gap of exactly 3600 s starts a new session, hence >= in the SQL;
    the two conventions agree on this corpus — no exact-gap tie exists —
    but the oracle encodes the streaming operator's own contract)."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_session_agg,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "ts"
    )
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_session_agg(s, gap_seconds=3600.0, watermark=None),
        "stream_sess_",
        "complete",
    )
    return drained.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("n_turns").cast("long").alias("n_turns"),
        F.round(_sec("session_start"), 6).alias("start_sec"),
        F.round(_sec("session_end") - _sec("session_start"), 6).alias("dur_sec"),
    )


_SQL_STREAM_SESSIONS = """
WITH d AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) >= 3600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, tus,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY tus) AS sid
  FROM d
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       round(min(tus) / 1000000.0, 6) AS start_sec,
       round((max(tus) - min(tus)) / 1000000.0, 6) AS dur_sec
FROM s GROUP BY user_id, sid
"""



def q_stream_turn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sliding-window turn rate
    (``streaming/sessions.streaming_turn_rate``): events per 1-hour
    window sliding every 15 minutes (the ops-dashboard shape), drained
    complete-mode over the two-drop replay. Oracle: each event belongs
    to the 4 slide-aligned windows covering it — a generate_series
    expansion in DuckDB over the same epoch-aligned grid Spark's
    ``window(ts, width, slide)`` uses."""
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_turn_rate,
    )

    ev = _t(spark, sf_dir, "events").select("ts")
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_turn_rate(
            s, window="1 hour", slide="15 minutes", watermark=None
        ),
        "stream_rate_",
        "complete",
    )
    return drained.select(
        _sec(F.col("window.start")).cast("double").alias("ws_sec"),
        F.col("n_turns").cast("long").alias("n_turns"),
    )


_SQL_STREAM_TURN_RATE = """
WITH b AS (SELECT epoch_us(ts) AS tus FROM events),
w AS (
  SELECT (floor(tus / 900000000) - g.k) * 900 AS ws_sec
  FROM b, generate_series(0, 3) AS g(k)
  WHERE (floor(tus / 900000000) - g.k) * 900000000 > tus - 3600000000
)
SELECT CAST(ws_sec AS DOUBLE) AS ws_sec, CAST(count(*) AS BIGINT) AS n_turns
FROM w GROUP BY 1
"""



def q_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING as-of enrichment (``streaming/enrich.streaming_asof_enrich``
    — the engine's centerpiece join, streamed): each click/view picks up
    the user's purchase state as of its own timestamp from a
    slowly-changing dimension intervalized batch-side
    (``intervalize_dimension``: one lead window → half-open validity
    ranges), joined stream-static with ZERO state (intervals partition
    the timeline, so no aggregation, no watermark). Oracle: DuckDB ASOF
    LEFT JOIN — inclusive backward, rows before the first purchase keep
    NULL payload. The dimension is pre-aggregated to one row per
    (user, ts) with max(value) on both sides: two purchases at one
    instant would give ``intervalize_dimension`` an empty interval and
    DuckDB an arbitrary pick."""
    from acoustic_feature_extractor_spark.streaming.enrich import (
        intervalize_dimension,
        streaming_asof_enrich,
    )

    ev = _t(spark, sf_dir, "events")
    dim = intervalize_dimension(
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("dvalue")),
        on="ts",
        by="user_id",
    )
    spine = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id", "ts"
    )
    cut = 1705363200.0
    drained = _drain_two_drops(
        spark,
        spine,
        _sec("ts") < cut,
        lambda s: streaming_asof_enrich(s, dim, on="ts", by="user_id"),
        "stream_asof_",
        "append",
    )
    return drained.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.round("dvalue_dim", 6).alias("dvalue"),
        F.round(_sec("ts_dim"), 6).alias("dim_ts_sec"),
    )


_SQL_STREAM_ASOF_ENRICH = """
WITH spine AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type IN ('click', 'view')
),
dim AS (
  SELECT user_id, ts, max(value) AS dvalue FROM events
  WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT s.user_id, s.event_id,
       round(d.dvalue, 6) AS dvalue,
       round(epoch_us(d.ts) / 1000000.0, 6) AS dim_ts_sec
FROM spine s ASOF LEFT JOIN dim d
  ON s.user_id = d.user_id AND s.ts >= d.ts
"""


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM trailing-window join
    (``streaming/enrich.streaming_interval_join``): clicks and errors are
    two branches of ONE replayed stream (stream-stream self-join); each
    click picks up every error of the same user in its trailing 30
    minutes. The two-drop time split forces boundary-straddling matches
    (a drop-2 click joining a drop-1 error) through the buffered join
    state — the cut is picked so that at the gate's sf0.01 exactly one
    match straddles it (error 2024-01-05T23:10:52 < cut <= click
    2024-01-05T23:19:47, same user): a join whose right-side buffer
    fails to carry across the micro-batch boundary loses that row and
    hash-mismatches the oracle. Oracle: the plain batch range join."""
    from acoustic_feature_extractor_spark.streaming.enrich import (
        streaming_interval_join,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type", "value")
    cut = 1704496500.0
    drained = _drain_two_drops(
        spark,
        ev,
        _sec("ts") < cut,
        lambda s: streaming_interval_join(
            s.where(F.col("event_type") == "click").select(
                "user_id", "event_id", "ts"
            ),
            s.where(F.col("event_type") == "error").select(
                "user_id", "ts", "value"
            ),
            on="ts",
            by="user_id",
            max_lag_seconds=1800.0,
            watermark=None,
        ),
        "stream_ij_",
        "append",
    )
    return drained.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.round("value_r", 6).alias("err_value"),
        F.round(_sec("ts_r"), 6).alias("err_ts_sec"),
    )


_SQL_STREAM_INTERVAL_JOIN = """
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
),
e AS (
  SELECT user_id, epoch_us(ts) AS tus, value FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.event_id,
       round(e.value, 6) AS err_value,
       round(e.tus / 1000000.0, 6) AS err_ts_sec
FROM c JOIN e
  ON c.user_id = e.user_id
 AND e.tus >= c.tus - 1800000000
 AND e.tus <= c.tus
"""



def q_stream_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming landing (``sources/snapshots.snapshot_sink``
    / ``commit_epoch``) — the north-star resumability contract
    driver-graded: drop 1 of the events stream drains into a snapshot
    table (availableNow, one append snapshot per micro-batch, epoch ids
    in lineage), the SAME checkpoint then resumes over drop 2 processing
    only the new files, and a THIRD restart with nothing new must commit
    ZERO additional snapshots (the query RAISES otherwise — idempotent
    epoch replay, no duplicate landing). The final table must
    hash-match the plain batch aggregate of the raw events — exactly
    once, not at-least-once."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    cut = 1705363200.0
    d = tempfile.mkdtemp(prefix="snap_sink_query_")
    src, tbl, ckpt = (os.path.join(d, p) for p in ("in", "tbl", "ckpt"))
    schema = ev.schema

    def drain():
        q = snap.snapshot_sink(
            spark.readStream.schema(schema).parquet(src), tbl, ckpt
        )
        q.awaitTermination()

    pre = F.coalesce(_sec("ts") < cut, F.lit(False))  # NULL ts -> drop 2
    ev.where(pre).write.parquet(src)
    drain()
    n1 = len(snap.history(tbl))
    ev.where(~pre).write.mode("append").parquet(src)
    drain()
    n2 = len(snap.history(tbl))
    drain()  # restart with nothing new: exactly-once means zero commits
    n3 = len(snap.history(tbl))
    if not (n1 >= 1 and n2 > n1 and n3 == n2):
        raise RuntimeError(
            f"exactly-once evidence failed: snapshots {n1} -> {n2} -> {n3}"
        )
    df = snap.read(spark, tbl)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_v"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


_SQL_STREAM_SNAPSHOT_SINK = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events GROUP BY 1
"""



def q_stream_cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production loop in one driver-graded story: the stream
    LANDS exactly-once as snapshots (``snapshot_sink``, drop 1), the
    hourly rollup materializes from the landed table, the stream lands
    MORE (same checkpoint resumes over drop 2), and the rollup folds
    FORWARD from the snapshot-metadata CDC delta
    (``read_changes(s1, s2)`` → ``rollup_apply_changes``, insert-only so
    no fact rescan) instead of recomputing. The oracle recomputes the
    hourly rollup from ALL raw events — landing + incremental
    maintenance proven equal to batch truth end to end. IO of the fold
    ∝ drop 2, never the table."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    cut = 1705363200.0
    d = tempfile.mkdtemp(prefix="cdc_rollup_query_")
    src, tbl, ckpt = (os.path.join(d, p) for p in ("in", "tbl", "ckpt"))
    schema = ev.schema

    def drain():
        q = snap.snapshot_sink(
            spark.readStream.schema(schema).parquet(src), tbl, ckpt
        )
        q.awaitTermination()

    ev.where(F.coalesce(_sec("ts") < cut, F.lit(False))).write.parquet(src)
    drain()
    s1 = snap.current_snapshot_id(tbl)
    old = rollup_ops.rollup(
        snap.read(spark, tbl), 3600.0, by="user_id", value_col="value"
    ).localCheckpoint(eager=True)  # materialized view at s1, held at rest
    ev.where(~F.coalesce(_sec("ts") < cut, F.lit(False))).write.mode(
        "append"
    ).parquet(src)
    drain()
    s2 = snap.current_snapshot_id(tbl)
    if not (s2 > s1):
        raise RuntimeError(f"landing evidence failed: {s1} -> {s2}")
    ch = snap.read_changes(spark, tbl, s1, s2)
    out = rollup_ops.rollup_apply_changes(
        old, ch, 3600.0, by="user_id", value_col="value"
    )
    return _rollup_export(out, "user_id")


_SQL_STREAM_CDC_ROLLUP = _sql_rollup(3600)



def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward fill (``fill.backward_fill``) — the mirror of
    ``forward_fill``: each row reads the NEXT non-masked value in its
    conversation ('error' rows are missing). One window on the shared
    (user, idx) sort, frame [CURRENT, UNBOUNDED FOLLOWING]; the
    reference's boundary-clamp fill reads both directions
    (``f0.py:74-81``), so both deserve driver evidence."""
    d = _indexed_events(spark, sf_dir).withColumn(
        "good_value", F.when(F.col("event_type") != "error", F.col("value"))
    )
    d = fill_ops.backward_fill(
        d, "good_value", key="user_id", order="idx", out_col="next_good"
    )
    return d.select(
        "user_id", "event_id", "idx", F.round("next_good", 6).alias("next_good")
    )


_SQL_BACKFILL = f"""
WITH base AS ({_IDX_SQL})
SELECT user_id, event_id, idx,
       round(first_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6)
       AS next_good
FROM base
"""


def q_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean mask from interval spans (``intervals.mask_from_spans`` —
    the reference's silence-mask shape,
    ``extract_silence_from_phoneme.py:28-33``): every event is flagged
    when it falls inside ±10 minutes of ANY of its user's error events
    (the exclusion-window curation primitive). Left-semi range join +
    join-back; spans scale with the corpus so the broadcast is
    size-gated, not forced. Oracle: a correlated EXISTS over the same
    wall-clock interval arithmetic (NTZ both engines)."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.where(F.col("event_type") == "error").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    r = interval_ops.mask_from_spans(
        ev.select("user_id", "event_id", "ts"),
        spans,
        key="user_id",
        ts="ts",
        mask_col="near_error",
    )
    return r.select(
        "user_id", F.col("event_id").cast("long").alias("event_id"), "near_error"
    )


_SQL_SPAN_MASK = """
SELECT ev.user_id, ev.event_id,
       EXISTS (
         SELECT 1 FROM events e
         WHERE e.event_type = 'error' AND e.user_id = ev.user_id
           AND ev.ts >= e.ts - INTERVAL 10 MINUTE
           AND ev.ts <  e.ts + INTERVAL 10 MINUTE
       ) AS near_error
FROM events ev
"""


def q_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot ROLLBACK (``snapshots.rollback``) driver-graded: commit
    the pre-cut events as v1, append the rest as v2, roll back to v1 —
    a METADATA-ONLY append of a new snapshot re-pointing at v1's file
    set (history intact, no byte rewritten; the query RAISES unless the
    log shows exactly [append, append, rollback] and records the
    rollback target in lineage). The current read must then equal v1:
    the oracle aggregates ONLY the pre-cut raw events."""
    import tempfile

    from acoustic_feature_extractor_spark.sources import snapshots as snap

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    cut = 1705363200.0
    t = tempfile.mkdtemp(prefix="rollback_query_")
    pre = F.coalesce(_sec("ts") < cut, F.lit(False))
    s1 = snap.commit(ev.where(pre), t)
    snap.commit(ev.where(~pre), t)  # v2 = full table (append)
    rb = snap.rollback(t, s1.snapshot_id)
    hist = snap.history(t)
    if not (
        rb.operation == "rollback"
        and rb.lineage.get("rolled_back_to") == s1.snapshot_id
        and [s.operation for s in hist] == ["append", "append", "rollback"]
        and hist[-1].dirs == s1.dirs
    ):
        raise RuntimeError(
            f"rollback evidence failed: {[s.operation for s in hist]}"
        )
    df = snap.read(spark, t)  # current head = the rolled-back file set
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_v"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


_SQL_SNAPSHOT_ROLLBACK = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(value), 6) AS sum_v,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events
WHERE epoch_us(ts) < 1705363200000000
GROUP BY 1
"""



def q_align_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source alignment tolerance REJECTS
    (``asof.align_rejected_entities``): the reference hard-asserts every
    source covers the same span within a tolerance
    (``sampling_data.py:98-103``) — here the violators surface as a
    validation table instead of an exception (a quarantine sink at
    scale). Sources = each user's click series vs view series; a user
    is rejected when the two end-timestamps differ by more than 3 days,
    or when either source has no rows for them (the reference would
    KeyError). One groupBy per source + a full outer join on the
    entity — span-sized data, never row-sized. Oracle: the same two
    max-aggregates and the same null-propagating span difference."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    r = asof_ops.align_rejected_entities(
        [clicks, views], error_time_length=259200.0, on="ts", by="user_id"
    )
    return r.select(
        "user_id",
        F.round("end_0", 6).alias("end_0"),
        F.round("end_1", 6).alias("end_1"),
        F.round("span_diff", 6).alias("span_diff"),
    )


_SQL_ALIGN_REJECTS = """
WITH c AS (
  SELECT user_id, max(epoch_us(ts)) / 1000000.0 AS end_0
  FROM events WHERE event_type = 'click' GROUP BY 1
),
v AS (
  SELECT user_id, max(epoch_us(ts)) / 1000000.0 AS end_1
  FROM events WHERE event_type = 'view' GROUP BY 1
),
j AS (
  SELECT coalesce(c.user_id, v.user_id) AS user_id, c.end_0, v.end_1,
         CASE WHEN c.end_0 IS NULL OR v.end_1 IS NULL THEN NULL
              ELSE greatest(c.end_0, v.end_1) - least(c.end_0, v.end_1) END AS span_diff
  FROM c FULL JOIN v ON c.user_id = v.user_id
)
SELECT user_id, round(end_0, 6) AS end_0, round(end_1, 6) AS end_1,
       round(span_diff, 6) AS span_diff
FROM j
WHERE span_diff IS NULL OR span_diff > 259200.0
"""



def q_pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (``pack.pack_utilization``): per-pack
    token total, doc count, and fill fraction over the next-fit
    ``pack_greedy`` assignment — the training-batch efficiency metric a
    data pipeline publishes next to its packed shards (utilization > 1
    marks an over-capacity document's overflow pack). One partial/final
    groupBy on the pack keys. Oracle: the same aggregate over the
    recursive-CTE replay of the packing itself."""
    d = _t(spark, sf_dir, "documents")
    p = pack_ops.pack_greedy(
        d,
        tokens_col="n_chars",
        id_col="doc_id",
        capacity=2048,
        bucket=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    u = pack_ops.pack_utilization(p, tokens_col="n_chars", capacity=2048)
    return u.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("pack_tokens").cast("long").alias("pack_tokens"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "utilization",
    )


_SQL_PACK_UTILIZATION = """
WITH RECURSIVE d AS (
  SELECT doc_id, n_chars, doc_id % 8 AS bucket,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
rec AS (
  SELECT bucket, doc_id, n_chars, rn, CAST(0 AS BIGINT) AS pack_id,
         n_chars AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT x.bucket, x.doc_id, x.n_chars, x.rn,
         CASE WHEN r.fill + x.n_chars > 2048 THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.fill + x.n_chars > 2048 THEN x.n_chars ELSE r.fill + x.n_chars END
  FROM rec r JOIN d x ON x.bucket = r.bucket AND x.rn = r.rn + 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, pack_id,
       CAST(sum(n_chars) AS BIGINT) AS pack_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(n_chars) / 2048.0, 6) AS utilization
FROM rec GROUP BY 1, 2
"""



# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# One entry per query: (name, builder, DuckDB oracle SQL). The order is part
# of the public contract: queries() and oracle_sql() both list in it.
_REGISTRY: tuple[tuple[str, Callable[[SparkSession, str], DataFrame], str], ...] = (
    ("stream_cusum", q_stream_cusum, _SQL_STREAM_CUSUM),
    ("stream_fingerprint", q_stream_fingerprint, _sql_stream_fingerprint()),
    ("stream_time_since", q_stream_time_since, _SQL_STREAM_TIME_SINCE),
    ("snapshot_compact", q_snapshot_compact, _SQL_SNAPSHOT_COMPACT),
    ("stream_fill", q_stream_fill, _SQL_STREAM_FILL),
    ("stream_seasonal", q_stream_seasonal, _SQL_STREAM_SEASONAL),
    ("stream_rollup", q_stream_rollup, _SQL_STREAM_ROLLUP),
    ("stream_hist", q_stream_hist, _SQL_STREAM_HIST),
    ("stream_distinct", q_stream_distinct, _SQL_STREAM_DISTINCT),
    ("stream_sessions", q_stream_sessions, _SQL_STREAM_SESSIONS),
    ("stream_turn_rate", q_stream_turn_rate, _SQL_STREAM_TURN_RATE),
    ("stream_asof_enrich", q_stream_asof_enrich, _SQL_STREAM_ASOF_ENRICH),
    ("stream_interval_join", q_stream_interval_join, _SQL_STREAM_INTERVAL_JOIN),
    ("stream_snapshot_sink", q_stream_snapshot_sink, _SQL_STREAM_SNAPSHOT_SINK),
    ("stream_cdc_rollup", q_stream_cdc_rollup, _SQL_STREAM_CDC_ROLLUP),
    ("backfill", q_backfill, _SQL_BACKFILL),
    ("span_mask", q_span_mask, _SQL_SPAN_MASK),
    ("snapshot_rollback", q_snapshot_rollback, _SQL_SNAPSHOT_ROLLBACK),
    ("align_rejects", q_align_rejects, _SQL_ALIGN_REJECTS),
    ("pack_utilization", q_pack_utilization, _SQL_PACK_UTILIZATION),
    ("turn_transitions", q_turn_transitions, _SQL_TURN_TRANSITIONS),
    ("degenerate_loops", q_degenerate_loops, _SQL_DEGENERATE_LOOPS),
    # streaming op held to the BATCH oracle: the drained stream must
    # hash-match the plain window SQL
    ("stream_context", q_stream_context, _SQL_STREAM_CONTEXT),
    ("sketch_topk", q_sketch_topk, _SQL_SKETCH_TOPK),
    ("changepoints", q_changepoints, _SQL_CHANGEPOINTS),
    ("drift_incremental", q_drift_incremental, _SQL_DRIFT_INCREMENTAL),
    ("weighted_sample", q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
    ("topk_incremental", q_topk_incremental, _SQL_TOPK_INCREMENTAL),
    ("rolling_trend", q_rolling_trend, _SQL_ROLLING_TREND),
    ("ewma_mean", q_ewma_mean, _SQL_EWMA_MEAN),
    ("cohort_retention", q_cohort_retention, _SQL_COHORT_RETENTION),
    ("seasonal_baseline", q_seasonal_baseline, _SQL_SEASONAL_BASELINE),
    ("drift_ks", q_drift_ks, _SQL_DRIFT_KS),
    ("rolling_autocorr", q_rolling_autocorr, _SQL_ROLLING_AUTOCORR),
    ("kanon_suppress", q_kanon_suppress, _SQL_KANON_SUPPRESS),
    ("vocab_oov", q_vocab_oov, _SQL_VOCAB_OOV),
    ("tool_funnel", q_tool_funnel, _SQL_TOOL_FUNNEL),
    ("pit_enrich", q_pit_enrich, _SQL_PIT_ENRICH),
    ("cv_folds", q_cv_folds, _SQL_CV_FOLDS),
    ("drift_psi", q_drift_psi, _SQL_DRIFT_PSI),
    ("response_latency", q_response_latency, _SQL_RESPONSE_LATENCY),
    ("future_label", q_future_label, _SQL_FUTURE_LABEL),
    ("sketch_cms", q_sketch_cms, _sql_sketch_cms()),
    ("negative_sample", q_negative_sample, _sql_negative_sample()),
    ("pit_staleness", q_pit_staleness, _SQL_PIT_STALENESS),
    ("feature_vector", q_feature_vector,
     _sql_feature_vector().format(flagship=_SQL_FLAGSHIP)),
    ("sessionize", q_sessionize, _SQL_SESSIONIZE),
    ("stats_normalize", q_stats_normalize, _SQL_STATS_NORMALIZE),
    # minhash-LSH at r=1 banding has provably-total recall on this
    # fixture (pytest-asserted), so its verified output equals the
    # exact-Jaccard pair set — same oracle SQL, different physical plan
    ("dedup_minhash", q_dedup_minhash, _SQL_NGRAM_JACCARD),
    ("asof_salted", q_asof_salted, _SQL_ASOF_SALTED),
    ("multi_align", q_multi_align, _SQL_MULTI_ALIGN),
    # full-probe LSH / full-probe IVF degrade provably to exact brute
    # force — the brute-force SQL oracles the bucketed machinery
    ("ann_lsh", q_ann_lsh, _SQL_ANN_BRUTEFORCE),
    ("ann_ivf", q_ann_ivf, _SQL_ANN_BRUTEFORCE),
    ("embedding_neardup", q_embedding_neardup, _SQL_EMBEDDING_NEARDUP),
    ("media_features", q_media_features, _SQL_MEDIA),
    ("pack_concat", q_pack_concat, _SQL_PACK_CONCAT),
    ("pack_greedy", q_pack_greedy, _SQL_PACK_GREEDY),
    ("tfidf_topk", q_tfidf_topk, _SQL_TFIDF),
    ("winsorize", q_winsorize, _SQL_WINSORIZE),
    ("dedup_clusters", q_dedup_clusters, _SQL_DEDUP_CLUSTERS),
    ("hash_split", q_hash_split, _SQL_HASH_SPLIT),
    ("balanced_sample", q_balanced_sample, _SQL_BALANCED_SAMPLE),
    ("shard_shuffle", q_shard_shuffle, _SQL_SHARD_SHUFFLE),
    ("semantic_clusters", q_semantic_clusters, _SQL_SEMANTIC_CLUSTERS),
    ("doc_quality", q_doc_quality, _SQL_DOC_QUALITY),
    ("c4_clean", q_c4_clean, _SQL_C4_CLEAN),
    ("pii_scrub", q_pii_scrub, _SQL_PII_SCRUB),
    ("decontaminate", q_decontaminate, _SQL_DECONTAMINATE),
    ("dup_spans", q_dup_spans, _SQL_DUP_SPANS),
    ("dup_span_stats", q_dup_span_stats, _SQL_DUP_SPAN_STATS),
    ("pruned_scan", q_pruned_scan, _SQL_PRUNED_SCAN),
    # incremental maintenance at FULL probe degrades to the same exact
    # brute force as ann_lsh / ann_ivf — over the WHOLE corpus only if the
    # appended batch is visible and correctly bucketed
    ("ann_ivf_incremental", q_ann_ivf_incremental, _SQL_ANN_BRUTEFORCE),
    ("context_assembly", q_context_assembly, _SQL_CONTEXT_ASSEMBLY),
    ("conv_dedup", q_conv_dedup, _sql_conv_dedup()),
    ("chunk_documents", q_chunk_documents, _SQL_CHUNK_DOCUMENTS),
    ("flagship_features", q_flagship_features, _SQL_FLAGSHIP),
    ("asof_join", q_asof_join, _SQL_ASOF),
    ("tpch_q1", q_tpch_q1, _SQL_TPCH_Q1),
    ("rolling_stats", q_rolling_stats, _SQL_ROLLING),
    ("forward_fill", q_forward_fill, _SQL_FFILL),
    ("lag_lead_context", q_lag_lead_context, _SQL_LAG_LEAD),
    ("rolling_hop", q_rolling_hop, _SQL_ROLLING_HOP),
    ("session_bounds", q_session_bounds, _SQL_SESSION_BOUNDS),
    ("session_rollup", q_session_rollup, _SQL_SESSION_ROLLUP),
    ("run_boundaries", q_run_boundaries, _SQL_RUN_BOUNDARIES),
    ("interp_fill", q_interp_fill, _SQL_INTERP),
    ("resample_nearest", q_resample_nearest, _SQL_RESAMPLE_NEAREST),
    ("resample_linear", q_resample_linear, _SQL_RESAMPLE_LINEAR),
    ("multi_align_max", q_multi_align_max, _SQL_MULTI_ALIGN_MAX),
    ("grouped_stats", q_grouped_stats, _SQL_GROUPED_STATS),
    ("pivot_counts", q_pivot_counts, _SQL_PIVOT_COUNTS),
    ("cube_stats", q_cube_stats, _SQL_CUBE_STATS),
    ("percentile_report", q_percentile_report, _SQL_PERCENTILES),
    ("weighted_percentile", q_weighted_percentile, _SQL_WEIGHTED_PCT),
    ("histogram_filter", q_histogram_filter, _SQL_HISTOGRAM),
    ("all_same_filter", q_all_same_filter, _SQL_ALL_SAME),
    ("topk_per_group", q_topk_per_group, _SQL_TOPK),
    ("rollup_hourly", q_rollup_hourly, _SQL_ROLLUP_HOURLY),
    ("rollup_cascade", q_rollup_cascade, _SQL_ROLLUP_CASCADE),
    ("stratified_sample", q_stratified_sample, _SQL_STRATIFIED),
    ("keyset_diff", q_keyset_diff, _SQL_KEYSET_DIFF),
    ("revenue_by_nation", q_revenue_by_nation, _SQL_REVENUE_NATION),
    ("interval_expand", q_interval_expand, _SQL_INTERVAL_EXPAND),
    ("interval_overlap", q_interval_overlap, _SQL_INTERVAL_OVERLAP),
    ("props_parse", q_props_parse, _SQL_PROPS_PARSE),
    ("onehot_features", q_onehot_features, _SQL_ONEHOT),
    ("salted_rolling", q_salted_rolling, _SQL_SALTED_ROLLING),
    ("salted_cumsum", q_salted_cumsum, _SQL_SALTED_CUMSUM),
    ("salted_ffill", q_salted_ffill, _SQL_SALTED_FFILL),
    ("entity_profile", q_entity_profile, _SQL_ENTITY_PROFILE),
    ("keypoint_split", q_keypoint_split, _SQL_KEYPOINT),
    ("pad_sessions", q_pad_sessions, _SQL_PAD),
    ("boundary_adjust", q_boundary_adjust, _SQL_BOUNDARY),
    ("range_refine", q_range_refine, _SQL_RANGE_REFINE),
    ("dedup_exact", q_dedup_exact, _SQL_DEDUP_EXACT),
    ("dedup_ngram_jaccard", q_dedup_ngram_jaccard, _SQL_NGRAM_JACCARD_CAPPED),
    # portable polynomial token hash -> DuckDB recomputes identical
    # fingerprints and checks the banded pair search against all-pairs
    ("dedup_simhash", q_dedup_simhash, _simhash_sql()),
    ("text_profile", q_text_profile, _SQL_TEXT_PROFILE),
    ("ann_bruteforce", q_ann_bruteforce, _SQL_ANN_BRUTEFORCE),
    ("embedding_outliers", q_embedding_outliers, _SQL_EMBEDDING_OUTLIERS),
    ("dup_cut", q_dup_cut, _SQL_DUP_CUT),
    ("mixture_sample", q_mixture_sample, _SQL_MIXTURE_SAMPLE),
    ("doc_perplexity", q_doc_perplexity, _SQL_DOC_PERPLEXITY),
    ("trailing_window", q_trailing_window, _SQL_TRAILING_WINDOW),
    ("time_decay", q_time_decay, _SQL_TIME_DECAY),
    ("target_encode", q_target_encode, _SQL_TARGET_ENCODE),
    ("asof_nearest", q_asof_nearest, _SQL_ASOF_NEAREST),
    ("quantile_bin", q_quantile_bin, _SQL_QUANTILE_BIN),
    ("novelty_split", q_novelty_split, _SQL_NOVELTY_SPLIT),
    ("robust_outliers", q_robust_outliers, _SQL_ROBUST_OUTLIERS),
    ("onehot_accent", q_onehot_accent, _SQL_ONEHOT_ACCENT),
    ("ann_recall", q_ann_recall, _SQL_ANN_RECALL),
    ("ann_ivfpq", q_ann_ivfpq, _SQL_ANN_IVFPQ),
    ("sketch_distinct", q_sketch_distinct, _SQL_SKETCH_DISTINCT),
    ("sketch_cascade", q_sketch_cascade, _SQL_SKETCH_CASCADE),
    ("salted_join_hot", q_salted_join_hot, _SQL_SALTED_JOIN),
    ("snapshot_changes", q_snapshot_changes, _SQL_SNAPSHOT_CHANGES),
    ("rollup_incremental", q_rollup_incremental, _SQL_ROLLUP_INCREMENTAL),
    ("bloom_semi_join", q_bloom_semi_join, _SQL_BLOOM_SEMI_JOIN),
    ("pruned_scan_zorder", q_pruned_scan_zorder, _SQL_PRUNED_SCAN_ZORDER),
    ("sketch_quantiles", q_sketch_quantiles, _SQL_SKETCH_QUANTILES),
    ("snapshot_profile", q_snapshot_profile, _SQL_SNAPSHOT_PROFILE),
    ("hist_incremental", q_hist_incremental, _SQL_HIST_INCREMENTAL),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: build for name, build, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _REGISTRY}
