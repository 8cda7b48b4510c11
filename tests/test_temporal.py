"""Temporal feature operators: trailing time-range windows, exponential
time-decay, leakage-free target encoding. Every salted/chunked plan must
EXACTLY equal its single-window form, and every strictly-past feature must
match a brute-force numpy replay (which is also the leakage oracle: the
brute force reads only rows earlier in the (ts, tiebreak) order)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.temporal import (
    past_target_encode,
    time_decayed_sum,
    trailing_time_window,
)

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _events(spark, seed=7, n_keys=4, n_rows=400, span_s=20000):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_rows):
        key = f"u{rng.randint(n_keys)}"
        t = EPOCH + dt.timedelta(seconds=float(rng.randint(span_s)))
        rows.append((key, i, t, float(rng.rand() * 10), f"c{rng.randint(3)}"))
    # force exact-timestamp ties (tiebreak order must decide "past")
    rows.append(("u0", n_rows, rows[0][2], 5.0, "c0"))
    rows.append(("u0", n_rows + 1, rows[0][2], 7.0, "c1"))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value", "cat"])
    return spark.createDataFrame(pdf), pdf


def _brute_trailing(pdf, w_s, strict=True):
    out = []
    for _, r in pdf.iterrows():
        t = r.ts.timestamp()
        sel = pdf[pdf.user_id == r.user_id]
        # RANGE frames are inclusive at both bounds: [t - W, t - 1us]
        lo = t - w_s
        if strict:
            m = (sel.ts.map(lambda x: x.timestamp()) >= lo) & (
                sel.ts.map(lambda x: x.timestamp()) < t
            )
        else:
            m = (sel.ts.map(lambda x: x.timestamp()) >= lo) & (
                sel.ts.map(lambda x: x.timestamp()) <= t
            )
        out.append((int(m.sum()), float(sel.value[m].sum())))
    return out


def test_trailing_window_matches_bruteforce(spark):
    df, pdf = _events(spark)
    got = (
        trailing_time_window(df, "value", [600.0], key="user_id", ts_col="ts")
        .orderBy("event_id")
        .toPandas()
    )
    exp = _brute_trailing(pdf.sort_values("event_id"), 600.0)
    np.testing.assert_array_equal(got["value_count_600s"], [e[0] for e in exp])
    np.testing.assert_allclose(got["value_sum_600s"].fillna(0.0), [e[1] for e in exp])


def test_trailing_window_salted_equals_plain(spark):
    df, _ = _events(spark, seed=11, n_keys=2, n_rows=600)
    kw = dict(key="user_id", ts_col="ts", aggs=("count", "sum", "max"))
    plain = (
        trailing_time_window(df, "value", [300.0, 3600.0], **kw)
        .orderBy("event_id")
        .toPandas()
    )
    salted = (
        trailing_time_window(
            df, "value", [300.0, 3600.0], chunk_seconds=3600.0, **kw
        )
        .orderBy("event_id")
        .toPandas()
    )
    assert len(plain) == len(salted)
    for c in plain.columns:
        if c.startswith("value_"):
            np.testing.assert_allclose(
                salted[c].to_numpy(dtype=float),
                plain[c].to_numpy(dtype=float),
                err_msg=c,
            )


def test_trailing_window_strict_past_excludes_self_and_ties(spark):
    df, pdf = _events(spark)
    got = (
        trailing_time_window(df, "value", [60.0], key="user_id", ts_col="ts")
        .orderBy("event_id")
        .toPandas()
    )
    # the injected tie rows share row 0's exact timestamp: none of the
    # three may see each other (or themselves) in a strict-past frame
    tie_ids = [len(pdf) - 2, len(pdf) - 1]
    tied = got[got.event_id.isin(tie_ids)]
    ts0 = pdf.iloc[-1].ts
    same_t = pdf[(pdf.user_id == "u0") & (pdf.ts == ts0)]
    assert len(same_t) >= 2
    # any mass in their frames must come from rows with ts strictly below
    for _, r in tied.iterrows():
        past = pdf[
            (pdf.user_id == "u0")
            & (pdf.ts < ts0)
            & (pdf.ts.map(lambda x: x.timestamp()) >= ts0.timestamp() - 60)
        ]
        assert r.value_count_60s == len(past)


def _brute_decay(pdf, hl, strict=True):
    out = []
    for _, r in pdf.iterrows():
        t = r.ts.timestamp()
        sel = pdf[pdf.user_id == r.user_id]
        order_r = (t, r.event_id)
        acc = 0.0
        for _, b in sel.iterrows():
            tb = b.ts.timestamp()
            if (tb, b.event_id) < order_r or (not strict and b.event_id == r.event_id):
                acc += b.value * 2.0 ** (-(t - tb) / hl)
        out.append(acc)
    return out


def test_time_decay_matches_bruteforce(spark):
    df, pdf = _events(spark, n_rows=250)
    got = (
        time_decayed_sum(
            df, "value", 600.0, key="user_id", ts_col="ts", tiebreak_col="event_id"
        )
        .orderBy("event_id")
        .toPandas()
    )
    exp = _brute_decay(pdf.sort_values("event_id"), 600.0)
    np.testing.assert_allclose(got["value_decay"].to_numpy(), exp, rtol=1e-9, atol=1e-12)


def test_time_decay_chunking_invariant(spark):
    # chunk width must not change results: tiny chunks (many carries,
    # bounded fold truncation active) vs one huge chunk (single window)
    df, _ = _events(spark, seed=3, n_keys=2, n_rows=300, span_s=100000)
    kw = dict(key="user_id", ts_col="ts", tiebreak_col="event_id")
    a = (
        time_decayed_sum(df, "value", 120.0, chunk_half_lives=8, **kw)
        .orderBy("event_id")
        .toPandas()["value_decay"]
        .to_numpy()
    )
    b = (
        time_decayed_sum(df, "value", 120.0, chunk_half_lives=512, **kw)
        .orderBy("event_id")
        .toPandas()["value_decay"]
        .to_numpy()
    )
    np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-12)


def test_time_decay_long_span_no_overflow(spark):
    # an entity spanning ~5000 half-lives overflows the naive single-anchor
    # 2**(t/hl) weighting (2^5000 = inf); the chunked plan must stay finite
    rows = [
        ("k", i, EPOCH + dt.timedelta(seconds=i * 3600.0), 1.0)
        for i in range(0, 5000, 97)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
    )
    got = (
        time_decayed_sum(
            df, "value", 3.6, key="user_id", ts_col="ts", tiebreak_col="event_id"
        )
        .orderBy("event_id")
        .toPandas()["value_decay"]
        .to_numpy()
    )
    assert np.isfinite(got).all()
    # gaps are ~97000x the half-life: every strictly-past contribution has
    # fully decayed away
    np.testing.assert_allclose(got, 0.0, atol=1e-12)


def test_past_target_encode_matches_bruteforce(spark):
    df, pdf = _events(spark, n_rows=300)
    got = (
        past_target_encode(
            df,
            "cat",
            "value",
            ts_col="ts",
            tiebreak_col="event_id",
            chunk_seconds=900.0,
        )
        .orderBy("event_id")
        .toPandas()
    )
    for _, r in got.iterrows():
        row = pdf[pdf.event_id == r.event_id].iloc[0]
        t = row.ts.timestamp()
        sel = pdf[pdf["cat"] == row["cat"]]
        past = sel[
            sel.apply(
                lambda b: (b.ts.timestamp(), b.event_id) < (t, row.event_id), axis=1
            )
        ]
        exp = past.value.sum() / len(past) if len(past) else np.nan
        assert r.target_enc_n == len(past)
        np.testing.assert_allclose(r.target_enc, exp, rtol=1e-12)


def test_past_target_encode_chunked_equals_plain(spark):
    df, _ = _events(spark, seed=19, n_rows=500)
    kw = dict(ts_col="ts", tiebreak_col="event_id")
    plain = (
        past_target_encode(df, "cat", "value", chunk_seconds=None, **kw)
        .orderBy("event_id")
        .toPandas()
    )
    chunked = (
        past_target_encode(df, "cat", "value", chunk_seconds=1000.0, **kw)
        .orderBy("event_id")
        .toPandas()
    )
    np.testing.assert_allclose(
        chunked["target_enc"].to_numpy(), plain["target_enc"].to_numpy(), rtol=1e-12
    )
    np.testing.assert_array_equal(chunked["target_enc_n"], plain["target_enc_n"])


def test_past_target_encode_no_history_null_without_prior(spark):
    df, _ = _events(spark)
    got = (
        past_target_encode(
            df, "cat", "value", ts_col="ts", tiebreak_col="event_id"
        )
        .where(F.col("target_enc_n") == 0)
        .toPandas()
    )
    assert len(got) >= 1  # each category's first row
    assert got["target_enc"].isna().all()


def test_expanding_distinct_count_bruteforce(spark):
    from acoustic_feature_extractor_spark.operators.temporal import (
        expanding_distinct_count,
    )

    df, pdf = _events(spark, seed=23, n_rows=300)
    got = (
        expanding_distinct_count(
            df, "cat", key="user_id", ts_col="ts", tiebreak_col="event_id",
            out_col="nov",
        )
        .orderBy("event_id")
        .toPandas()
    )
    for _, r in got.iterrows():
        row = pdf[pdf.event_id == r.event_id].iloc[0]
        t = row.ts.timestamp()
        sel = pdf[pdf.user_id == row.user_id]
        past = sel[
            sel.apply(
                lambda b: (b.ts.timestamp(), b.event_id) < (t, row.event_id), axis=1
            )
        ]
        assert r.nov == past["cat"].nunique(), r.event_id
        assert r.nov_is_new == (row["cat"] not in set(past["cat"])), r.event_id


def test_expanding_distinct_count_chunked_equals_plain(spark):
    from acoustic_feature_extractor_spark.operators.temporal import (
        expanding_distinct_count,
    )

    df, _ = _events(spark, seed=29, n_rows=500)
    kw = dict(key="user_id", ts_col="ts", tiebreak_col="event_id", out_col="nov")
    plain = (
        expanding_distinct_count(df, "cat", chunk_seconds=None, **kw)
        .orderBy("event_id")
        .toPandas()
    )
    chunked = (
        expanding_distinct_count(df, "cat", chunk_seconds=777.0, **kw)
        .orderBy("event_id")
        .toPandas()
    )
    np.testing.assert_array_equal(chunked["nov"], plain["nov"])
    np.testing.assert_array_equal(chunked["nov_is_new"], plain["nov_is_new"])


def test_temporal_split_embargo_band(spark):
    from acoustic_feature_extractor_spark.operators.temporal import temporal_split

    rows = [
        ("a", 0, EPOCH + dt.timedelta(seconds=s), 1.0)
        for s in [0, 1000, 85000, 86399, 86400, 90000]
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
    )
    test_start = (EPOCH + dt.timedelta(seconds=86400)).replace(tzinfo=None)
    got = (
        temporal_split(df, test_start, ts_col="ts", embargo_seconds=3600.0)
        .orderBy("ts")
        .toPandas()["split"]
        .tolist()
    )
    # embargo = [test_start - 1h, test_start): the 85000/86399 rows
    assert got == ["train", "train", "embargo", "embargo", "test", "test"]


def test_time_decay_multi_horizon_equals_single_calls(spark):
    df, _ = _events(spark, seed=41, n_rows=300, span_s=200000)
    kw = dict(key="user_id", ts_col="ts", tiebreak_col="event_id")
    fused = (
        time_decayed_sum(df, "value", [600.0, 3600.0, 86400.0], **kw)
        .orderBy("event_id")
        .toPandas()
    )
    for hl in (600.0, 3600.0, 86400.0):
        single = (
            time_decayed_sum(df, "value", hl, **kw)
            .orderBy("event_id")
            .toPandas()["value_decay"]
            .to_numpy()
        )
        np.testing.assert_allclose(
            fused[f"value_decay_{int(hl)}s"].to_numpy(),
            single,
            rtol=1e-9,
            atol=1e-12,
            err_msg=str(hl),
        )


# ---------------------------------------------------------------------------
# purged expanding-window CV folds
# ---------------------------------------------------------------------------

def test_time_series_folds_purge_and_order(spark):
    """Per fold: every train row ends <= embargo before the earliest valid
    row's tile cut; valid tiles are disjoint in time across folds; a
    brute-force numpy replay of the quantile cuts agrees."""
    from acoustic_feature_extractor_spark.operators.temporal import time_series_folds

    df, pdf = _events(spark, seed=13)
    emb = 1800.0
    out = time_series_folds(
        df, ts_col="ts", n_folds=4, embargo_seconds=emb
    ).toPandas()
    tsec = pdf.set_index("event_id")["ts"].map(
        lambda t: t.replace(tzinfo=None).timestamp()
        if t.tzinfo is None
        else t.timestamp()
    )
    cuts = np.percentile(tsec.values, [25, 50, 75], method="linear")
    for f in (2, 3, 4):
        g = out[out.fold == f]
        tr = tsec.loc[g[g.role == "train"].event_id].values
        va = tsec.loc[g[g.role == "valid"].event_id].values
        cut = cuts[f - 2]
        assert (tr <= cut - emb).all()
        assert (va > cut).all()
        if f < 4:
            assert (va <= cuts[f - 1]).all()
        # purge band (cut-emb, cut] trains nowhere in this fold
        band = tsec[(tsec > cut - emb) & (tsec <= cut)].index
        assert not set(band) & set(g[g.role == "train"].event_id)
    # a row can train in several folds; valid assignments are unique
    v = out[out.role == "valid"]
    assert v.event_id.is_unique or v.groupby("event_id").fold.nunique().max() == 1


def test_time_series_folds_fact_table_never_shuffles(spark):
    """Map-only contract: the only plain Exchange is the 1-row cut
    aggregate; the fact side is broadcast-joined and exploded in place."""
    import contextlib
    import io
    import re

    from acoustic_feature_extractor_spark.operators.temporal import time_series_folds

    df, _ = _events(spark)
    out = time_series_folds(df, ts_col="ts", n_folds=5, embargo_seconds=600.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"fact table must not shuffle; saw {ex} exchanges\n{plan[:3000]}"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# CUSUM change-point scores
# ---------------------------------------------------------------------------


def test_cusum_matches_textbook_recursion(spark):
    import math
    import random

    from acoustic_feature_extractor_spark.operators.temporal import cusum_scores

    rng = random.Random(7)
    rows = []
    series = {}
    for g in ("a", "b"):
        vals = []
        for i in range(120):
            # mean shift of +2.0 at i=80 for entity 'a' only
            mu = 2.0 if (g == "a" and i >= 80) else 0.0
            v = rng.gauss(mu, 1.0)
            vals.append(v)
            rows.append((g, i, v))
        series[g] = vals
    df = spark.createDataFrame(rows, "g string, i int, v double")
    ref = df.where("i < 60")  # pre-shift reference window
    out = cusum_scores(df, by="g", order="i", value_col="v", ref=ref, k=0.5, h=5.0)
    got = {(r["g"], r["i"]): r for r in out.collect()}

    # textbook recursion on the same standardization
    ref_vals = [v for g in ("a", "b") for v in series[g][:60]]
    mu = sum(ref_vals) / len(ref_vals)
    var = sum((v - mu) ** 2 for v in ref_vals) / len(ref_vals)
    sg = math.sqrt(var)
    for g in ("a", "b"):
        sp = sn = 0.0
        for i, v in enumerate(series[g]):
            z = (v - mu) / sg
            sp = max(0.0, sp + z - 0.5)
            sn = max(0.0, sn - z - 0.5)
            r = got[(g, i)]
            assert abs(r["s_pos"] - sp) < 1e-9, (g, i)
            assert abs(r["s_neg"] - sn) < 1e-9, (g, i)
            assert r["alarm"] == (sp > 5.0 or sn > 5.0)

    # the shifted entity alarms after the break; the stable one never does
    a_alarms = [i for (g, i), r in got.items() if g == "a" and r["alarm"]]
    assert a_alarms and min(a_alarms) >= 80
    assert not [i for (g, i), r in got.items() if g == "b" and r["alarm"]]


def test_cusum_degenerate_reference_raises(spark):
    import pytest as _pytest

    from acoustic_feature_extractor_spark.operators.temporal import cusum_scores

    df = spark.createDataFrame([("a", 0, 1.0), ("a", 1, 2.0)], "g string, i int, v double")
    ref = df.where("v = 1.0")  # single point: sigma = 0
    with _pytest.raises(Exception, match="degenerate reference sigma"):
        cusum_scores(df, by="g", order="i", value_col="v", ref=ref).collect()


# ---------------------------------------------------------------------------
# rolling trend + EWMA mean
# ---------------------------------------------------------------------------


def test_rolling_trend_matches_polyfit(spark):
    import numpy as np

    from acoustic_feature_extractor_spark.operators.temporal import rolling_trend

    rng = np.random.RandomState(3)
    rows = []
    series = {}
    for g in ("a", "b"):
        y = list(np.cumsum(rng.randn(40)) + (np.arange(40) * (0.5 if g == "a" else -0.2)))
        series[g] = y
        rows += [(g, i, float(y[i])) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, i int, v double")
    out = rolling_trend(df, by="g", order="i", value_col="v", window_rows=8)
    got = {(r["g"], r["i"]): r["trend"] for r in out.collect()}
    for g in ("a", "b"):
        y = series[g]
        for i in range(40):
            xs = list(range(max(0, i - 8), i))  # strictly past, up to 8 rows
            if len(xs) < 2:
                assert got[(g, i)] is None
                continue
            slope = np.polyfit(xs, [y[j] for j in xs], 1)[0]
            assert abs(got[(g, i)] - slope) < 1e-9, (g, i)


def test_rolling_trend_inclusive_and_guards(spark):
    import pytest as _pytest

    from acoustic_feature_extractor_spark.operators.temporal import rolling_trend

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 3.0), ("a", 2, 5.0)], "g string, i int, v double"
    )
    out = {
        r["i"]: r["trend"]
        for r in rolling_trend(
            df, by="g", order="i", value_col="v", window_rows=3, strict_past=False
        ).collect()
    }
    assert out[0] is None  # single point
    assert abs(out[1] - 2.0) < 1e-12
    assert abs(out[2] - 2.0) < 1e-12
    with _pytest.raises(ValueError):
        rolling_trend(df, by="g", order="i", value_col="v", window_rows=1)


def test_time_decayed_mean_bruteforce(spark):
    import datetime as _dt
    import math

    from acoustic_feature_extractor_spark.operators.temporal import time_decayed_mean

    t0 = _dt.datetime(2024, 1, 1)
    pts = [(i, float((i * 7) % 13)) for i in range(30)]  # irregular values
    rows = [("c", i, t0 + _dt.timedelta(seconds=40 * i), v) for i, v in pts]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, v double")
    out = {
        r["turn_idx"]: r["v_ewm"]
        for r in time_decayed_mean(df, "v", half_life_seconds=120.0).collect()
    }
    for i, _ in pts:
        num = den = 0.0
        for j, vj in pts[:i]:
            wgt = 2.0 ** (-(40 * (i - j)) / 120.0)
            num += vj * wgt
            den += wgt
        if i == 0:
            assert out[i] is None
        else:
            assert abs(out[i] - num / den) < 1e-9, i
    # constant series: EWMA is the constant wherever defined
    dfc = df.withColumn("v", F.lit(5.0))
    outc = {r["turn_idx"]: r["v_ewm"] for r in time_decayed_mean(dfc, "v", 120.0).collect()}
    assert all(abs(v - 5.0) < 1e-12 for i, v in outc.items() if v is not None)


def _seasonal_brute(rows, slot_of):
    """O(n^2) oracle: strict-past same-slot mean per row."""
    out = {}
    for g, ts, eid, v in rows:
        past = sorted(
            [
                (ts2, e2, v2)
                for g2, ts2, e2, v2 in rows
                if g2 == g
                and slot_of(ts2) == slot_of(ts)
                and (ts2, e2) < (ts, eid)
            ]
        )
        vals = [v2 for _, _, v2 in past if v2 is not None]
        out[(g, eid)] = (
            len(vals),
            (sum(vals) / len(vals)) if vals else None,
        )
    return out


def test_seasonal_baseline_matches_bruteforce(spark):
    import datetime as dt

    from acoustic_feature_extractor_spark.operators.temporal import (
        seasonal_baseline,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for g in ("a", "b"):
        for d in range(5):
            for h in (1, 9, 9, 17):  # duplicate hour → same-slot ties
                rows.append(
                    (
                        g,
                        base + dt.timedelta(days=d, hours=h, minutes=eid % 7),
                        eid,
                        float((eid * 13) % 29),
                    )
                )
                eid += 1
    df = spark.createDataFrame(rows, "g string, ts timestamp_ntz, eid int, v double")
    out = seasonal_baseline(df, by="g", ts_col="ts", value_col="v", tiebreak_col="eid")
    got = {
        (r["g"], r["eid"]): (r["n_slot_past"], r["seasonal_mean"])
        for r in out.collect()
    }
    want = _seasonal_brute(rows, lambda t: t.hour)
    for key, (n, mean) in want.items():
        gn, gm = got[key]
        assert gn == n, key
        if mean is None:
            assert gm is None, key
        else:
            assert abs(gm - mean) < 1e-9, key


def test_seasonal_baseline_leak_free(spark):
    """Perturbing a FUTURE row's value leaves every earlier feature
    unchanged (zero temporal leakage)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.temporal import (
        seasonal_baseline,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        ("a", base + dt.timedelta(days=d), d, float(d)) for d in range(6)
    ]  # same hour slot each day
    df = spark.createDataFrame(rows, "g string, ts timestamp_ntz, eid int, v double")
    poisoned = df.withColumn(
        "v", F.when(F.col("eid") == 5, F.lit(1e9)).otherwise(F.col("v"))
    )
    a = {
        r["eid"]: (r["n_slot_past"], r["seasonal_mean"])
        for r in seasonal_baseline(
            df, by="g", ts_col="ts", value_col="v", tiebreak_col="eid"
        ).collect()
    }
    b = {
        r["eid"]: (r["n_slot_past"], r["seasonal_mean"])
        for r in seasonal_baseline(
            poisoned, by="g", ts_col="ts", value_col="v", tiebreak_col="eid"
        ).collect()
    }
    for eid in range(5):  # every row except the poisoned last one
        assert a[eid] == b[eid], eid


def test_seasonal_slot_fast_path_matches_general_and_guards(spark):
    """The hour-of-day fast path equals the general pmod formulation on
    DST-gap / pre-1970 / fractional wall times, and slot widths that
    straddle the period raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.functions.scalars import ntz_epoch_us
    from acoustic_feature_extractor_spark.operators.temporal import seasonal_slot

    rows = [
        "2024-03-10 02:05:00.123456",
        "1969-12-31 23:59:59.5",
        "2024-11-03 01:30:00",
        "2024-01-05 13:21:45.999999",
        "1970-01-01 00:00:00",
    ]
    d = spark.createDataFrame([(r,) for r in rows], "s string").select(
        F.col("s").cast("timestamp_ntz").alias("ts")
    )
    US = 1_000_000
    general = (
        F.pmod(ntz_epoch_us(F.col("ts")), F.lit(86400 * US)) / F.lit(3600 * US)
    ).cast("int")
    bad = d.select(
        seasonal_slot("ts").alias("fast"), general.alias("gen")
    ).where("fast IS DISTINCT FROM gen")
    assert bad.count() == 0
    with _pytest.raises(ValueError):
        seasonal_slot("ts", slot_seconds=7000.0, period_seconds=86400.0)


def test_rolling_autocorr_matches_numpy(spark):
    import numpy as np

    from acoustic_feature_extractor_spark.operators.temporal import (
        rolling_autocorr,
    )

    rng = np.random.RandomState(11)
    rows, series = [], {}
    for g in ("a", "b"):
        # AR(1)-ish series so the statistic is nontrivial
        y = [0.0]
        for _ in range(39):
            y.append(0.7 * y[-1] + rng.randn())
        series[g] = y
        rows += [(g, i, float(y[i])) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, i int, v double")
    out = rolling_autocorr(
        df, by="g", order="i", value_col="v", lag=1, window_rows=10
    )
    got = {(r["g"], r["i"]): r["autocorr"] for r in out.collect()}
    for g in ("a", "b"):
        y = series[g]
        for i in range(40):
            js = [j for j in range(max(0, i - 10), i) if j - 1 >= 0]
            pairs = [(y[j], y[j - 1]) for j in js]
            if len(pairs) < 2:
                assert got[(g, i)] is None, (g, i)
                continue
            a = np.array([p[0] for p in pairs])
            b = np.array([p[1] for p in pairs])
            if a.std() == 0 or b.std() == 0:
                assert got[(g, i)] is None, (g, i)
                continue
            want = np.corrcoef(a, b)[0, 1]
            assert abs(got[(g, i)] - want) < 1e-9, (g, i)


def test_rolling_autocorr_guards_and_constant(spark):
    import pytest as _pytest

    from acoustic_feature_extractor_spark.operators.temporal import (
        rolling_autocorr,
    )

    df = spark.createDataFrame(
        [("a", i, 5.0) for i in range(8)], "g string, i int, v double"
    )
    # constant series → zero variance → NULL everywhere, never ±inf
    out = rolling_autocorr(df, by="g", order="i", value_col="v", window_rows=4)
    assert all(r["autocorr"] is None for r in out.collect())
    with _pytest.raises(ValueError):
        rolling_autocorr(df, by="g", order="i", value_col="v", lag=0)
    with _pytest.raises(ValueError):
        rolling_autocorr(
            df, by="g", order="i", value_col="v", lag=3, window_rows=4
        )


# ---------------------------------------------------------------------------
# time_since_event / future_outcomes
# ---------------------------------------------------------------------------


def _us(t):
    return int((t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)).total_seconds() * 1e6)


def test_time_since_event_bruteforce(spark):
    from acoustic_feature_extractor_spark.operators.temporal import time_since_event

    df, pdf = _events(spark)
    out = (
        time_since_event(
            df, F.col("cat") == "c0", key="user_id", ts_col="ts", out_col="since_s"
        )
        .select("event_id", "since_s")
        .toPandas()
        .set_index("event_id")["since_s"]
    )
    pdf = pdf.assign(us=pdf["ts"].map(_us))
    for _, r in pdf.iterrows():
        past = pdf[(pdf.user_id == r.user_id) & (pdf.us < r.us) & (pdf.cat == "c0")]
        exp = (r.us - past.us.max()) / 1e6 if len(past) else None
        got = out.loc[r.event_id]
        if exp is None:
            assert pd.isna(got), (r.event_id, got)
        else:
            assert got == pytest.approx(exp), (r.event_id, got, exp)


def test_future_outcomes_bruteforce(spark):
    from acoustic_feature_extractor_spark.operators.temporal import future_outcomes

    df, pdf = _events(spark)
    h = 600.0
    out = (
        future_outcomes(
            df,
            F.col("cat") == "c2",
            horizon_seconds=h,
            key="user_id",
            ts_col="ts",
            value_col="value",
        )
        .select("event_id", "future_n", "future_any", "future_ttf_s", "future_sum")
        .toPandas()
        .set_index("event_id")
    )
    pdf = pdf.assign(us=pdf["ts"].map(_us))
    for _, r in pdf.iterrows():
        # strictly after: same-timestamp ties are NOT the future
        win = pdf[
            (pdf.user_id == r.user_id)
            & (pdf.us > r.us)
            & (pdf.us <= r.us + h * 1e6)
            & (pdf.cat == "c2")
        ]
        g = out.loc[r.event_id]
        assert g.future_n == len(win)
        assert bool(g.future_any) == (len(win) > 0)
        if len(win):
            assert g.future_ttf_s == pytest.approx((win.us.min() - r.us) / 1e6)
            assert g.future_sum == pytest.approx(win.value.sum())
        else:
            assert pd.isna(g.future_ttf_s) and pd.isna(g.future_sum)


def test_chunked_carry_pre_epoch_timestamps(spark):
    """Spark's % takes the dividend's sign: a pre-1970 timestamp gets a
    negative remainder, so the old carry predicate never fired and the
    chunked plan silently diverged from the plain one. skew.carry_rows uses
    pmod; chunked must equal plain for negative-µs data."""
    rows = []
    base = dt.datetime(1969, 12, 31, 18, 0, tzinfo=dt.timezone.utc)  # pre-epoch
    for i in range(120):
        rows.append(("u0", i, base + dt.timedelta(seconds=i * 211.0),
                     float(i % 7), "c0" if i % 5 == 0 else "c1"))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value", "cat"])
    df = spark.createDataFrame(pdf)

    plain_t = trailing_time_window(
        df, "value", [900.0], key="user_id", ts_col="ts"
    ).orderBy("event_id").toPandas()
    chunk_t = trailing_time_window(
        df, "value", [900.0], key="user_id", ts_col="ts", chunk_seconds=1800.0
    ).orderBy("event_id").toPandas()[plain_t.columns]
    pd.testing.assert_frame_equal(plain_t.reset_index(drop=True),
                                  chunk_t.reset_index(drop=True))


def test_chunked_keeps_null_timestamp_rows(spark):
    """A NULL-ts row joins no RANGE frame, but it must still EMIT: the
    chunk explode would otherwise delete it (all-null chunk array), and an
    equi-join back on a nullable (key, chunk) would drop it, so chunked
    output lost rows vs plain. A NULL-key entity sits next to the NULL-ts
    rows: it is one entity, as in the plain window. Pinned for every
    chunked operator: same rows, same values, frame-for-frame (time decay,
    which has no plain path, against its docstring formula)."""
    from acoustic_feature_extractor_spark.operators.temporal import expanding_distinct_count

    rows = []
    for i in range(60):
        rows.append(("u0", i, EPOCH + dt.timedelta(seconds=i * 211.0),
                     float(i % 7), "c0" if i % 5 == 0 else "c1"))
    rows.append(("u0", 60, None, 3.0, "c0"))  # null ts, marked
    rows.append(("u0", 61, None, 4.0, "c1"))  # null ts, unmarked
    for i in range(24):  # the NULL-key entity, a NULL category among it
        rows.append((None, 62 + i, EPOCH + dt.timedelta(seconds=i * 307.0),
                     float(i % 5), [None, "c0", "c1"][i % 3]))
    rows.append((None, 86, None, 2.0, "c1"))
    n = len(rows)
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value", "cat"])
    df = spark.createDataFrame(pdf)

    def same(plain, chunked):
        a = plain.orderBy("event_id").toPandas()
        b = chunked.orderBy("event_id").toPandas()[a.columns]
        assert len(a) == n and len(b) == n
        pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))

    same(
        trailing_time_window(df, "value", [900.0], key="user_id", ts_col="ts"),
        trailing_time_window(
            df, "value", [900.0], key="user_id", ts_col="ts", chunk_seconds=1800.0
        ),
    )
    kw = dict(ts_col="ts", tiebreak_col="event_id")
    same(
        past_target_encode(df, "cat", "value", chunk_seconds=None, **kw),
        past_target_encode(df, "cat", "value", **kw),  # default chunking
    )
    kw = dict(key="user_id", ts_col="ts", tiebreak_col="event_id")
    same(
        expanding_distinct_count(df, "cat", **kw),
        expanding_distinct_count(df, "cat", chunk_seconds=1800.0, **kw),
    )

    got = (
        time_decayed_sum(df, "value", 600.0, chunk_half_lives=2, **kw)
        .orderBy("event_id")
        .toPandas()
    )
    assert len(got) == n
    for _, r in pdf.iterrows():
        g = got.loc[got.event_id == r.event_id, "value_decay"].iloc[0]
        if pd.isna(r.ts):
            assert pd.isna(g), r.event_id  # NULL t: NULL exponent
            continue
        past = pdf[
            (pdf.user_id.isna() if r.user_id is None else pdf.user_id == r.user_id)
            & pdf.ts.notna()
        ]
        past = past[(past.ts < r.ts) | ((past.ts == r.ts) & (past.event_id < r.event_id))]
        want = float(
            (past.value * 2.0 ** (-(r.ts - past.ts).dt.total_seconds() / 600.0)).sum()
        )
        assert g == pytest.approx(want, rel=1e-9, abs=1e-12), r.event_id
