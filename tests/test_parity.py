"""THE allclose parity gate (north_star): a single-node numpy kernel
re-deriving the reference's semantics — nearest resample gather
(``sampling_data.py:29-42``), statistics conversion (``f0.py:119-123``),
unvoiced linear fill (``f0.py:74-81``), frame degeneration
(``sampling_data.py:141-176``) — is compared per entity×timestamp against
the Spark plans on identical data. numpy.allclose, unrounded."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.asof import resample_grid
from acoustic_feature_extractor_spark.operators.fill import interpolate_fill
from acoustic_feature_extractor_spark.operators.stats import corpus_stats, normalize
from acoustic_feature_extractor_spark.operators.windows import degenerate


def _collect_features(turn_features_df):
    pdf = turn_features_df.orderBy("conv_id", "turn_idx").toPandas()
    return {k: g.reset_index(drop=True) for k, g in pdf.groupby("conv_id")}


def test_resample_parity(spark, turn_features_df):
    """Spark resample == reference gather kernel array[floor(i*ratio)]."""
    src = turn_features_df.select("conv_id", "turn_idx", "feature")
    out = (
        resample_grid(src, src_rate=3.0, dst_rate=1.0, value_cols=["feature"],
                      key="conv_id", index_col="turn_idx")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    per_conv = _collect_features(turn_features_df)
    for k, g in out.groupby("conv_id"):
        arr = per_conv[k]["feature"].to_numpy()
        # reference: indexes = (arange(len) * (src/dst)).astype(int), gather
        length = int(len(arr) // 3.0)
        idx = (np.arange(length) * 3.0).astype(int)
        np.testing.assert_allclose(g["feature"].to_numpy(), arr[idx])


def test_normalize_parity(spark, turn_features_df):
    """Spark normalization == reference convert formula on valid entries."""
    valid = turn_features_df.where("valid")
    out = normalize(valid, "feature", corpus_stats(valid, "feature")).toPandas()
    im, iv = out["feature"].mean(), out["feature"].std(ddof=0)
    assert np.allclose(out["feature_norm"], (1.0 / iv) * (out["feature"] - im))


def test_fill_parity(spark, turn_features_df):
    """Spark interp fill == reference unvoiced numpy.interp fill."""
    d = turn_features_df.withColumn(
        "f", F.when(F.col("valid"), F.col("feature"))
    )
    out = (
        interpolate_fill(d, "f", out_col="filled")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    for k, g in out.groupby("conv_id"):
        g = g.reset_index(drop=True)
        valid = g["valid"].to_numpy()
        idx = np.arange(len(g))
        expected = np.interp(idx, idx[valid], g["feature"].to_numpy()[valid])
        assert np.allclose(g["filled"].to_numpy(), expected), k


def test_degenerate_parity(spark, turn_features_df):
    """Spark rolling degenerate == reference framed reduce (interior frames,
    where the centered window is fully populated)."""
    out = (
        degenerate(turn_features_df, "feature", frame_length=5, aggs=("min", "max", "mean", "median"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    for k, g in out.groupby("conv_id"):
        g = g.reset_index(drop=True)
        arr = g["feature"].to_numpy()
        n = len(arr)
        if n < 5:
            continue
        for i in range(2, n - 2):
            frame = arr[i - 2 : i + 3]
            assert np.isclose(g.loc[i, "feature_min"], frame.min())
            assert np.isclose(g.loc[i, "feature_max"], frame.max())
            assert np.isclose(g.loc[i, "feature_mean"], frame.mean())
            assert np.isclose(g.loc[i, "feature_median"], np.median(frame))


def test_text_equality_through_pipeline(spark, transcripts):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    survives the full flagship pipeline (input_hint row invariant)."""
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    out = turn_features(transcripts)
    j = transcripts.select("conv_id", "turn_idx", F.col("text").alias("orig")).join(
        out.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    )
    assert j.where(F.col("orig") != F.col("text")).count() == 0
    assert j.count() == transcripts.count()
