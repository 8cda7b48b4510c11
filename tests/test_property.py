"""Randomized property tests (hypothesis) — SURVEY.md §5 item 5.

The reference property-tests resample against a repeat-gather oracle with
random sizes/rates (``/root/reference/tests/test_sampling_data.py:30-43``);
ours drive the as-of join, weighted percentile, and sessionization against
pandas/numpy oracles on random inputs. Example counts are small because
every example is a Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from acoustic_feature_extractor_spark.operators.asof import asof_join
from acoustic_feature_extractor_spark.operators.percentiles import weighted_percentile
from acoustic_feature_extractor_spark.operators.sessionize import sessionize

_SETTINGS = dict(max_examples=8, deadline=None, derandomize=True)


@st.composite
def _two_sided_events(draw):
    rng = np.random.RandomState(draw(st.integers(0, 10_000)))
    n_keys = draw(st.integers(1, 4))
    nl = draw(st.integers(1, 40))
    nr = draw(st.integers(0, 40))
    base = pd.Timestamp("2024-01-01")
    # integer-second offsets force duplicate timestamps across sides —
    # the <=-visibility edge case
    lpdf = pd.DataFrame(
        {
            "conv_id": [f"c{rng.randint(n_keys)}" for _ in range(nl)],
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.randint(0, 50, nl)],
            "lv": rng.randn(nl),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": [f"c{rng.randint(n_keys)}" for _ in range(nr)],
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.randint(0, 50, nr)],
            "state": rng.randn(nr),
        }
    )
    # unique (key, ts) per side so backward-as-of has a unique answer
    lpdf = lpdf.drop_duplicates(["conv_id", "ts"]).reset_index(drop=True)
    rpdf = rpdf.drop_duplicates(["conv_id", "ts"]).reset_index(drop=True)
    return lpdf, rpdf


@given(_two_sided_events())
@settings(**_SETTINGS)
def test_asof_join_matches_merge_asof(spark, data):
    lpdf, rpdf = data
    l = spark.createDataFrame(lpdf)
    r = (
        spark.createDataFrame(rpdf)
        if len(rpdf)
        else spark.createDataFrame([], "conv_id string, ts timestamp, state double")
    )
    got = (
        asof_join(l, r, right_cols=["state"])
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    expected_parts = []
    for k, lg in lpdf.sort_values("ts").groupby("conv_id"):
        rg = rpdf[rpdf.conv_id == k].sort_values("ts")
        if rg.empty:
            m = lg.copy()
            m["state"] = np.nan
        else:
            m = pd.merge_asof(
                lg, rg[["ts", "state"]], on="ts", direction="backward"
            )
        m["conv_id"] = k
        expected_parts.append(m)
    exp = (
        pd.concat(expected_parts)
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        got["state_asof"].to_numpy(dtype=float),
        exp["state"].to_numpy(dtype=float),
        equal_nan=True,
    )


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(2, 60),
    q=st.floats(0.0, 1.0),
)
@settings(**_SETTINGS)
def test_weighted_percentile_matches_numpy(spark, seed, n, q):
    rng = np.random.RandomState(seed)
    v = np.unique(rng.randn(n) * 10)  # distinct values (tie contract)
    w = rng.rand(len(v)) + 0.01
    got = (
        weighted_percentile(
            spark.createDataFrame(pd.DataFrame({"v": v, "w": w})), "v", "w", [q]
        )
        .collect()[0]["value"]
    )
    order = np.argsort(v)
    sv, sw = v[order], w[order]
    mids = (np.cumsum(sw) - sw / 2) / sw.sum()
    exp = float(np.interp(q, mids, sv))
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@given(seed=st.integers(0, 10_000), gap=st.floats(1.0, 100.0))
@settings(**_SETTINGS)
def test_sessionize_matches_pandas(spark, seed, gap):
    rng = np.random.RandomState(seed)
    n = 50
    deltas = rng.rand(n) * 120
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"] * n,
            "turn_idx": range(n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(deltas), unit="s"),
        }
    )
    got = (
        sessionize(spark.createDataFrame(pdf), gap_seconds=gap)
        .orderBy("turn_idx")
        .toPandas()["session_id"]
        .to_numpy()
    )
    d = pdf["ts"].diff().dt.total_seconds()
    exp = (d > gap).fillna(False).cumsum().to_numpy()
    np.testing.assert_array_equal(got, exp)


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 200),
    k=st.integers(1, 6),
)
@settings(**_SETTINGS)
def test_topk_per_group_property(spark, seed, n, k):
    """Salted two-phase top-k == pandas nsmallest-by-total-order for any
    random input and k."""
    import pyspark.sql.functions as F

    from acoustic_feature_extractor_spark.operators.windows import topk_per_group

    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "g": [f"g{rng.randint(3)}" for _ in range(n)],
            "v": rng.randint(0, 10, n),  # ties likely
            "id": np.arange(n),
        }
    )
    got = (
        topk_per_group(
            spark.createDataFrame(pdf).repartition(7),
            "g",
            [F.col("v").desc(), F.col("id")],
            k=k,
        )
        .orderBy("g", "rank")
        .toPandas()
    )
    exp = (
        pdf.sort_values(["v", "id"], ascending=[False, True])
        .groupby("g")
        .head(k)
        .sort_values(["g", "v", "id"], ascending=[True, False, True])
    )
    assert got[["g", "id"]].values.tolist() == exp[["g", "id"]].values.tolist()


@given(
    seed=st.integers(0, 10_000),
    fine=st.sampled_from([60.0, 600.0, 3600.0]),
    mult=st.integers(2, 24),
)
@settings(**_SETTINGS)
def test_rollup_cascade_property(spark, seed, fine, mult):
    """hour→coarser cascade is lossless for any nested width pair."""
    from acoustic_feature_extractor_spark.operators.rollup import (
        rollup,
        rollup_coarser,
    )

    rng = np.random.RandomState(seed)
    n = 300
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "user_id": rng.randint(0, 4, n),
            "ts": [
                base + pd.Timedelta(seconds=int(s))
                for s in rng.randint(0, 7 * 86400, n)
            ],
            "value": rng.randn(n),
        }
    )
    df = spark.createDataFrame(pdf)
    fine_r = rollup(df, fine, by="user_id", value_col="value")
    via = rollup_coarser(fine_r, fine * mult, by="user_id")
    direct = rollup(df, fine * mult, by="user_id", value_col="value")
    cols = ["user_id", "bucket", "n", "min_v", "max_v", "first_ts", "last_ts"]
    a = sorted(map(tuple, via.select(cols).collect()))
    b = sorted(map(tuple, direct.select(cols).collect()))
    assert a == b
    sv = {tuple(r[:2]): r[2] for r in via.select("user_id", "bucket", "sum_v").collect()}
    sd = {tuple(r[:2]): r[2] for r in direct.select("user_id", "bucket", "sum_v").collect()}
    assert sv.keys() == sd.keys()
    for kk in sv:
        assert abs(sv[kk] - sd[kk]) < 1e-9


@st.composite
def _bloom_case(draw):
    rng = np.random.RandomState(draw(st.integers(0, 10_000)))
    n_fact = draw(st.integers(1, 300))
    n_keys = draw(st.integers(0, 40))
    key_space = draw(st.integers(1, 50))
    fact = pd.DataFrame(
        {
            "key": [f"k{rng.randint(key_space)}" for _ in range(n_fact)],
            "v": rng.randn(n_fact),
        }
    )
    keys = pd.DataFrame(
        {"key": [f"k{rng.randint(key_space)}" for _ in range(n_keys)]}
    ).drop_duplicates()
    n_bits = draw(st.sampled_from([64, 256, 4096]))
    k = draw(st.integers(1, 6))
    return fact, keys, n_bits, k


@given(_bloom_case())
@settings(**_SETTINGS)
def test_bloom_semi_join_equals_semi_join(spark, data):
    """For ANY bitmap geometry — including degenerate 64-bit bitmaps that
    saturate — the bloom-pruned semi join returns exactly the plain semi
    join (false positives scrubbed, false negatives impossible)."""
    from acoustic_feature_extractor_spark.plans.bloom import bloom_semi_join

    fact_pdf, keys_pdf, n_bits, k = data
    fact = spark.createDataFrame(fact_pdf)
    keys = (
        spark.createDataFrame(keys_pdf)
        if len(keys_pdf)
        else spark.createDataFrame([], "key string")
    )
    exp = set(map(tuple, fact.join(keys, "key", "semi").collect()))
    got = set(
        map(tuple, bloom_semi_join(fact, keys, "key", n_bits=n_bits, k=k).collect())
    )
    assert got == exp


@st.composite
def _zorder_case(draw):
    rng = np.random.RandomState(draw(st.integers(0, 10_000)))
    n = draw(st.integers(20, 400))
    pdf = pd.DataFrame(
        {
            "id": range(n),
            "x": rng.uniform(-50, 50, n),
            "y": rng.uniform(0, 1000, n),
        }
    )
    lox = draw(st.floats(-60, 40))
    loy = draw(st.floats(-10, 900))
    box = {
        "x": (lox, lox + draw(st.floats(1, 60))),
        "y": (loy, loy + draw(st.floats(1, 300))),
    }
    n_files = draw(st.sampled_from([2, 4, 8]))
    bits = draw(st.sampled_from([4, 8, 12]))
    return pdf, box, n_files, bits


@given(_zorder_case())
@settings(**_SETTINGS)
def test_zorder_read_where_multi_equals_filter(spark, tmp_path_factory, data):
    """Any z-order geometry + any box: the pruned read returns exactly
    the plain filter (pruning is always conservative)."""
    from acoustic_feature_extractor_spark.sources import snapshots as snap
    from acoustic_feature_extractor_spark.sources.layout import zorder_layout

    pdf, box, n_files, bits = data
    df = spark.createDataFrame(pdf)
    t = str(tmp_path_factory.mktemp("zprop"))
    snap.commit(zorder_layout(df, ["x", "y"], n_files, bits=bits), t)
    got = snap.read_where(spark, t, box)
    exp = df.where(
        (df.x >= box["x"][0]) & (df.x <= box["x"][1])
        & (df.y >= box["y"][0]) & (df.y <= box["y"][1])
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


@st.composite
def _hist_case(draw):
    rng = np.random.RandomState(draw(st.integers(0, 10_000)))
    n = draw(st.integers(1, 400))
    lo = draw(st.floats(-100, 0))
    hi = lo + draw(st.floats(1, 500))
    bins = draw(st.sampled_from([2, 7, 32]))
    fine_w = draw(st.sampled_from([600.0, 3600.0]))
    mult = draw(st.integers(1, 24))
    pdf = pd.DataFrame(
        {
            "g": rng.randint(0, 3, n),
            "ts": [
                pd.Timestamp("2024-01-01")
                + pd.Timedelta(seconds=int(s))
                for s in rng.randint(0, 200_000, n)
            ],
            # includes out-of-domain mass on both sides (clamping path)
            "value": rng.uniform(lo - 50, hi + 50, n),
        }
    )
    return pdf, lo, hi, bins, fine_w, mult


@given(_hist_case())
@settings(**_SETTINGS)
def test_hist_cascade_equals_direct_random(spark, data):
    """Random domain/bins/widths (incl. out-of-domain clamping): merged
    fine histograms are bit-identical to direct coarse sketching, and n
    always equals the true row count."""
    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_coarser,
        hist_rollup,
    )

    pdf, lo, hi, bins, fine_w, mult = data
    df = spark.createDataFrame(pdf)
    coarse_w = fine_w * mult
    fine = hist_rollup(df, fine_w, "g", "value", lo=lo, hi=hi, bins=bins)
    merged = hist_coarser(fine, coarse_w, "g", fine_seconds=fine_w)
    direct = hist_rollup(df, coarse_w, "g", "value", lo=lo, hi=hi, bins=bins)
    a = {(r["g"], r["bucket"]): (r["n"], tuple(r["hist"])) for r in merged.collect()}
    b = {(r["g"], r["bucket"]): (r["n"], tuple(r["hist"])) for r in direct.collect()}
    assert a == b
    assert sum(n for n, _ in a.values()) == len(pdf)


@st.composite
def _slotted_events(draw):
    rng = np.random.RandomState(draw(st.integers(0, 10_000)))
    n_keys = draw(st.integers(1, 3))
    n = draw(st.integers(1, 60))
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "g": [f"g{rng.randint(n_keys)}" for _ in range(n)],
            # hour-granular offsets over ~5 days force recurring slots;
            # minute jitter keeps ts unique-ish inside a slot
            "ts": [
                base
                + pd.Timedelta(hours=int(h), minutes=int(m))
                for h, m in zip(rng.randint(0, 120, n), rng.randint(0, 59, n))
            ],
            "eid": range(n),
            "v": rng.randn(n),
        }
    )
    return pdf


@given(_slotted_events())
@settings(**_SETTINGS)
def test_seasonal_baseline_matches_pandas(spark, data):
    """seasonal_baseline against an O(n²) pandas oracle on random inputs:
    strictly-past same-hour-slot mean."""
    from acoustic_feature_extractor_spark.operators.temporal import (
        seasonal_baseline,
    )

    pdf = data
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = seasonal_baseline(df, by="g", ts_col="ts", value_col="v", tiebreak_col="eid")
    got = {
        r["eid"]: (r["n_slot_past"], r["seasonal_mean"]) for r in out.collect()
    }
    for _, row in pdf.iterrows():
        past = pdf[
            (pdf["g"] == row["g"])
            & (pdf["ts"].dt.hour == row["ts"].hour)
            & (
                (pdf["ts"] < row["ts"])
                | ((pdf["ts"] == row["ts"]) & (pdf["eid"] < row["eid"]))
            )
        ]
        n, mean = got[row["eid"]]
        assert n == len(past)
        if len(past) == 0:
            assert mean is None
        else:
            assert abs(mean - past["v"].mean()) < 1e-9
