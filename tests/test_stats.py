"""Statistics + normalization parity with the reference formulas.

- population variance (``extract_f0_statistics.py:35`` uses numpy.var)
- linear conversion ``x' = (tv/iv)(x − im) + tm`` (``f0.py:119-123``)
- invalid entries pass through untouched (``f0.py:117-124``)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.stats import (
    all_same_filter,
    corpus_stats,
    normalize,
)


def _data(spark, seed=9):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 50 + ["b"] * 30,
            "v": rng.rand(80) * 40 + 60,
            "valid": rng.rand(80) > 0.2,
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_corpus_stats_population_variance(spark):
    df, pdf = _data(spark)
    row = corpus_stats(df.where("valid"), "v").collect()[0]
    valid = pdf[pdf.valid]["v"].to_numpy()
    assert np.isclose(row["mean"], valid.mean())
    assert np.isclose(row["var"], valid.var())  # numpy.var = population var
    assert np.isclose(row["stddev"], valid.std())
    assert row["n"] == len(valid)


def test_normalize_reference_formula(spark):
    df, pdf = _data(spark)
    valid_df = df.where("valid")
    out = normalize(valid_df, "v", corpus_stats(valid_df, "v")).toPandas()
    valid = pdf[pdf.valid]["v"].to_numpy()
    im, iv = valid.mean(), valid.std()
    np.testing.assert_allclose(out["v_norm"], (out["v"] - im) / iv, rtol=1e-12)


def test_normalized_stats_hit_target(spark):
    df, pdf = _data(spark)
    st = corpus_stats(df, "v")
    out = normalize(df, "v", st)
    check = out.agg(
        F.avg("v_norm").alias("m"), F.var_pop("v_norm").alias("s")
    ).collect()[0]
    assert abs(check["m"]) < 1e-9 and abs(check["s"] - 1.0) < 1e-9


def test_all_same_filter(spark):
    pdf = pd.DataFrame(
        {"conv_id": ["a", "a", "b", "b", "c"], "v": [1.0, 2.0, 3.0, 3.0, 5.0]}
    )
    df = spark.createDataFrame(pdf)
    kept = all_same_filter(df, "v")
    assert set(r["conv_id"] for r in kept.select("conv_id").distinct().collect()) == {"a"}


def test_winsorize_global_and_grouped(spark):
    from acoustic_feature_extractor_spark.operators.stats import winsorize

    rng = np.random.RandomState(21)
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 60 + ["b"] * 40,
            "v": np.concatenate([rng.rand(60) * 10, rng.rand(40) * 1000]),
        }
    )
    df = spark.createDataFrame(pdf)

    out = winsorize(df, "v", 0.1, 0.9).select("g", "v", "v_w").toPandas()
    lo, hi = np.percentile(pdf["v"], 10), np.percentile(pdf["v"], 90)
    np.testing.assert_allclose(
        np.sort(out["v_w"]), np.sort(pdf["v"].clip(lo, hi)), rtol=1e-9
    )

    outg = winsorize(df, "v", 0.1, 0.9, group_cols=["g"]).toPandas()
    for g, grp in pdf.groupby("g"):
        lo, hi = np.percentile(grp["v"], 10), np.percentile(grp["v"], 90)
        got = np.sort(outg.loc[outg["g"] == g, "v_w"])
        np.testing.assert_allclose(got, np.sort(grp["v"].clip(lo, hi)), rtol=1e-9)
    # row count preserved (winsorize caps, never drops)
    assert len(outg) == len(pdf)


def test_robust_outliers_matches_numpy(spark):
    from acoustic_feature_extractor_spark.operators.stats import robust_outliers

    rng = np.random.RandomState(11)
    vals = np.concatenate([rng.normal(50, 5, 200), [500.0, -400.0]])
    pdf = pd.DataFrame({"id": np.arange(len(vals)), "v": vals})
    df = spark.createDataFrame(pdf)
    got = robust_outliers(df, "v").orderBy("id").toPandas()
    med = np.median(vals)
    mad = np.median(np.abs(vals - med))
    z = 0.6745 * (vals - med) / mad
    np.testing.assert_allclose(got["robust_z"], z, rtol=1e-9)
    np.testing.assert_array_equal(got["is_outlier"], np.abs(z) > 3.5)
    # the two planted extremes must flag; the bulk must overwhelmingly not
    assert got["is_outlier"].iloc[-2:].all()
    assert got["is_outlier"].iloc[:200].sum() <= 2


def test_robust_outliers_degenerate_mad(spark):
    from acoustic_feature_extractor_spark.operators.stats import robust_outliers

    pdf = pd.DataFrame({"id": range(6), "v": [5.0, 5.0, 5.0, 5.0, 5.0, 9.0]})
    got = robust_outliers(spark.createDataFrame(pdf), "v").orderBy("id").toPandas()
    # MAD = 0: z undefined, only the off-median row flags
    assert got["robust_z"].isna().all()
    assert got["is_outlier"].tolist() == [False] * 5 + [True]


def test_population_stability_bruteforce(spark):
    """PSI table matches a numpy replay: exact reference-quantile edges,
    Laplace smoothing, per-bin (p-q)·ln(p/q) terms; a shifted current
    slice reads clearly drifted while an identical one reads ~0."""
    from acoustic_feature_extractor_spark.operators.stats import population_stability

    rng = np.random.RandomState(5)
    ref_v = rng.normal(0.0, 1.0, 2000)
    cur_v = rng.normal(0.8, 1.3, 1500)  # drifted
    ref = spark.createDataFrame(pd.DataFrame({"g": "a", "v": ref_v}))
    cur = spark.createDataFrame(pd.DataFrame({"g": "a", "v": cur_v}))
    bins, eps = 10, 1e-6
    got = (
        population_stability(ref, cur, "v", by=["g"], bins=bins, eps=eps)
        .orderBy("bin")
        .toPandas()
    )
    cuts = np.percentile(ref_v, [100 * k / bins for k in range(1, bins)], method="linear")
    def bucket(vals):
        return 1 + (vals[:, None] > cuts[None, :]).sum(axis=1)
    n_ref = np.bincount(bucket(ref_v), minlength=bins + 1)[1:]
    n_cur = np.bincount(bucket(cur_v), minlength=bins + 1)[1:]
    p = (n_ref + eps) / (n_ref.sum() + eps * bins)
    q = (n_cur + eps) / (n_cur.sum() + eps * bins)
    np.testing.assert_array_equal(got["n_ref"], n_ref)
    np.testing.assert_array_equal(got["n_cur"], n_cur)
    np.testing.assert_allclose(got["psi_term"], (p - q) * np.log(p / q), rtol=1e-9)
    psi = got["psi_term"].sum()
    assert psi > 0.25  # the planted shift must read as major drift
    # identical slices: PSI collapses to ~0
    same = (
        population_stability(ref, ref, "v", by=["g"], bins=bins, eps=eps)
        .agg(F.sum("psi_term"))
        .first()[0]
    )
    assert abs(same) < 1e-9


def test_population_stability_empty_bin_smoothing(spark):
    """A bin with zero current rows still appears (dense spine) and its
    smoothed term is finite."""
    from acoustic_feature_extractor_spark.operators.stats import population_stability

    ref = spark.createDataFrame(pd.DataFrame({"v": np.arange(100.0)}))
    cur = spark.createDataFrame(pd.DataFrame({"v": np.arange(50.0)}))  # upper half empty
    got = population_stability(ref, cur, "v", bins=4).orderBy("bin").toPandas()
    assert len(got) == 4
    assert (got["n_cur"].values[-1] == 0) and np.isfinite(got["psi_term"]).all()
