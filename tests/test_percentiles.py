"""Percentile operators vs the reference's numpy formulation.

Weighted-percentile oracle re-derives the semantics of
``extract_f0_range.py:113-150`` (sorted values, mid-cumulative weight grid,
numpy.interp, edge clamp)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from acoustic_feature_extractor_spark.operators.percentiles import (
    histogram_vote_filter,
    iterative_range_refine,
    percentile_report,
    weighted_percentile,
)


def _np_weighted_percentile(values, weights, q):
    order = np.argsort(values)
    v, w = np.asarray(values, float)[order], np.asarray(weights, float)[order]
    cw = np.cumsum(w)
    mids = (cw - w / 2) / cw[-1]
    return float(np.interp(q, mids, v))


def test_weighted_percentile_matches_numpy(spark):
    rng = np.random.RandomState(21)
    v = np.unique(rng.rand(200) * 100)
    w = rng.rand(len(v)) * 10 + 0.1
    pdf = pd.DataFrame({"v": v, "w": w})
    df = spark.createDataFrame(pdf)
    qs = [0.0, 0.1, 0.5, 0.9, 0.999, 1.0]
    got = {
        r["q"]: r["value"]
        for r in weighted_percentile(df, "v", "w", qs).collect()
    }
    for q in qs:
        assert np.isclose(got[q], _np_weighted_percentile(v, w, q), rtol=1e-9), q


def test_percentile_report_matches_numpy(spark):
    rng = np.random.RandomState(23)
    v = rng.rand(500) * 100
    df = spark.createDataFrame(pd.DataFrame({"v": v}))
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = {r["q"]: r["value"] for r in percentile_report(df, "v", qs=qs).collect()}
    for q in qs:
        assert np.isclose(got[q], np.percentile(v, q * 100), rtol=1e-9)


def test_histogram_vote_filter_matches_numpy(spark):
    rng = np.random.RandomState(24)
    v = np.concatenate([rng.rand(300) * 10 + 10, np.array([1e4, 1e4 + 1])])  # outlier bin
    w = np.ones(len(v))
    df = spark.createDataFrame(pd.DataFrame({"v": v, "w": w}))
    kept = histogram_vote_filter(df, "v", weight_col="w", n_bins=20, min_mass=0.05)
    got = np.sort(kept.toPandas()["v"].to_numpy())
    lv = np.log(v)
    lo, hi = lv.min(), lv.max()
    bins = np.minimum(19, np.floor((lv - lo) / ((hi - lo) / 20)).astype(int))
    mass = np.bincount(bins, weights=w, minlength=20)
    keep_bins = set(np.where(mass / mass.sum() >= 0.05)[0])
    expected = np.sort(v[[b in keep_bins for b in bins]])
    np.testing.assert_allclose(got, expected)


def test_iterative_range_refine_converges(spark):
    rng = np.random.RandomState(25)
    v = rng.lognormal(4.0, 0.3, 400)
    df = spark.createDataFrame(pd.DataFrame({"v": v, "w": np.ones(400)})).cache()
    lo, hi = iterative_range_refine(df, "v", "w", n_rounds=2, q_lo=0.05, q_hi=0.95)
    assert lo < np.median(v) < hi
    assert lo > v.min() * 0.3 and hi < v.max() * 3


def test_weighted_percentile_partition_invariance(spark):
    """Result must be identical for any chunk count (1, 3, 64) — the
    two-phase machinery may never leak into the answer."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(5)
    v = np.unique(rng.randn(500) * 50)
    w = rng.rand(len(v)) * 10 + 0.1
    df = spark.createDataFrame(pd.DataFrame({"v": v, "w": w}))
    order = np.argsort(v)
    sv, sw = v[order], w[order]
    mids = (np.cumsum(sw) - sw / 2) / sw.sum()
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    expected = np.interp(qs, mids, sv)
    for n_chunks in (1, 3, 64):
        bounds = list(np.quantile(v, np.arange(1, n_chunks) / n_chunks))
        got = {
            r["q"]: r["value"]
            for r in weighted_percentile(df, "v", "w", qs, chunk_bounds=bounds).collect()
        }
        np.testing.assert_allclose([got[q] for q in qs], expected, rtol=1e-9)


def test_weighted_percentile_grouped_multichunk(spark):
    """Three value sets of different scales over one set of bounds: the
    bounds split each set across chunks (or leave it in one), and the
    per-chunk offsets and the cross-chunk bracketing stitch must still
    reproduce numpy.interp exactly."""
    rng = np.random.RandomState(17)
    rows = []
    for g, scale in (("a", 10.0), ("b", 1000.0), ("c", 3.0)):
        n = {"a": 500, "b": 200, "c": 7}[g]
        for v in rng.rand(n) * scale:
            rows.append((g, float(v), float(rng.randint(1, 5))))
    pdf = pd.DataFrame(rows, columns=["g", "v", "w"])
    pdf = pdf.groupby(["g", "v"], as_index=False)["w"].sum()  # tie contract
    df = spark.createDataFrame(pdf)

    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    # explicit bounds force multi-chunk groups regardless of data layout
    bounds = [1.0, 2.0, 5.0, 50.0, 500.0]
    for g, grp in pdf.groupby("g"):
        sub = df.where(df.g == g)
        got = {
            r["q"]: r["value"]
            for r in weighted_percentile(sub, "v", "w", qs, chunk_bounds=bounds).collect()
        }
        grp = grp.sort_values("v")
        cw = grp["w"].cumsum()
        mids = (cw - grp["w"] / 2) / grp["w"].sum()
        for q in qs:
            want = float(np.interp(q, mids, grp["v"]))
            assert abs(got[q] - want) < 1e-9, (g, q, got[q], want)


def test_quantile_bin_matches_rank_formula(spark):
    from acoustic_feature_extractor_spark.operators.percentiles import quantile_bin

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "id": np.arange(500),
            "g": rng.choice(["x", "y", "z"], 500),
            "v": np.where(rng.rand(500) < 0.05, np.nan, rng.rand(500) * 100),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        quantile_bin(df, "v", 7, tiebreak_cols=["id"], out_col="b")
        .orderBy("id")
        .toPandas()
    )
    clean = pdf.dropna(subset=["v"]).sort_values(["v", "id"]).reset_index(drop=True)
    clean["b_exp"] = (np.arange(len(clean)) * 7) // len(clean)
    merged = got.merge(clean[["id", "b_exp"]], on="id")
    assert len(merged) == len(clean)  # nulls dropped
    np.testing.assert_array_equal(merged["b"], merged["b_exp"])
    # bucket sizes are ntile-shaped: differ by at most 1, larger first
    sizes = merged.groupby("b").size()
    assert sizes.max() - sizes.min() <= 1
    assert sorted(sizes.index) == list(range(7))


def test_quantile_bin_grouped(spark):
    from acoustic_feature_extractor_spark.operators.percentiles import quantile_bin

    rng = np.random.RandomState(9)
    pdf = pd.DataFrame(
        {
            "id": np.arange(400),
            # a NULL group is ranked like any other, never dropped
            "g": rng.choice(["x", "y", None], 400),
            "v": rng.rand(400) * 10,
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        quantile_bin(df, "v", 4, tiebreak_cols=["id"], group_cols=["g"], out_col="b")
        .orderBy("id")
        .toPandas()
    )
    assert len(got) == len(pdf)
    for g, grp in pdf.groupby("g", dropna=False):
        clean = grp.sort_values(["v", "id"]).reset_index(drop=True)
        clean["b_exp"] = (np.arange(len(clean)) * 4) // len(clean)
        sel = got.g.isna() if pd.isna(g) else got.g == g
        merged = got[sel].merge(clean[["id", "b_exp"]], on="id")
        assert len(merged) == len(grp), g
        np.testing.assert_array_equal(merged["b"], merged["b_exp"], err_msg=g)
