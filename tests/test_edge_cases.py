"""Regression tests for reviewed edge cases: ANSI-mode division guards,
descending-sequence guards, carry-both-ways salting, duplicate-frame
masking, hash-collision-safe dedup."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_normalize_constant_group(spark):
    """stddev 0 (a constant column) maps every value to 0, not a
    DIVIDE_BY_ZERO abort (Spark 4 ANSI default)."""
    from acoustic_feature_extractor_spark.operators.stats import corpus_stats, normalize

    df = spark.createDataFrame(pd.DataFrame({"v": [7.0] * 4}))
    out = normalize(df, "v", corpus_stats(df, "v")).collect()
    assert all(r["v_norm"] == 0.0 for r in out)


def test_flagship_constant_text_len(spark):
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "text": ["xx"] * 3,  # constant length -> stddev 0
            "tool": [None] * 3,
            "ts": pd.date_range("2024-01-01", periods=3, freq="10s"),
        }
    )
    out = turn_features(spark.createDataFrame(pdf)).collect()
    assert all(r["text_len_z"] == 0.0 for r in out)


def test_histogram_constant_and_nonpositive(spark):
    from acoustic_feature_extractor_spark.operators.percentiles import (
        histogram_vote_filter,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"v": [5.0] * 10 + [-1.0, 0.0]})
    )
    kept = histogram_vote_filter(df, "v", n_bins=10).collect()
    # constant group survives intact; non-positive rows dropped (log bins)
    assert len(kept) == 10 and all(r["v"] == 5.0 for r in kept)


def test_cosine_zero_vector_ranks_last(spark):
    from acoustic_feature_extractor_spark.operators.similarity import cosine_topk

    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [[1.0, 0.0], [0.0, 0.0], [0.9, 0.1]],
        }
    )
    df = spark.createDataFrame(pdf)
    out = cosine_topk(df.where(F.col("vec_id") == 0), df, k=2).collect()
    # zero vector (id 1) gets null cosine -> sorts last, no crash
    assert [r["neighbor_id"] for r in out] == [2, 1]
    assert out[1]["cos_sim"] is None


def test_resample_short_entity_empty_grid(spark):
    """Entity shorter than the downsample ratio yields ZERO rows, not a
    spurious descending-sequence [0, -1] pair."""
    from acoustic_feature_extractor_spark.operators.asof import resample_grid

    pdf = pd.DataFrame(
        {"conv_id": ["a"] * 5, "turn_idx": range(5), "v": [1.0] * 5}
    )
    out = resample_grid(
        spark.createDataFrame(pdf), src_rate=120.0, dst_rate=1.0, value_cols=["v"]
    ).collect()
    assert out == []


def test_salted_rolling_margin_near_chunk(spark):
    """Rows near BOTH chunk edges carry both ways: margin close to
    chunk_rows must still reproduce the plain window exactly."""
    from acoustic_feature_extractor_spark.operators.skew import salted_rolling
    from pyspark.sql.window import Window

    n = 64
    pdf = pd.DataFrame(
        {"conv_id": ["a"] * n, "turn_idx": range(n), "v": np.arange(n, dtype=float)}
    )
    df = spark.createDataFrame(pdf)
    lo, hi = -7, 7
    got = (
        salted_rolling(df, "v", lo, hi, agg="sum", out_col="s", chunk_rows=8)
        .orderBy("turn_idx")
        .toPandas()["s"]
        .to_numpy()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(lo, hi)
    exp = (
        df.withColumn("s", F.sum("v").over(w)).orderBy("turn_idx").toPandas()["s"].to_numpy()
    )
    np.testing.assert_allclose(got, exp)
    with pytest.raises(AssertionError):
        salted_rolling(df, "v", -9, 0, chunk_rows=8)  # margin > chunk_rows


def test_mask_from_spans_duplicate_frames(spark):
    from acoustic_feature_extractor_spark.operators.intervals import mask_from_spans

    frames = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "ts": [pd.Timestamp("2024-01-01 00:00:05")] * 2,  # duplicate (key, ts)
            }
        )
    )
    spans = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a"],
                "start_ts": [pd.Timestamp("2024-01-01 00:00:00")],
                "end_ts": [pd.Timestamp("2024-01-01 00:01:00")],
            }
        )
    )
    out = mask_from_spans(frames, spans).collect()
    assert len(out) == 2 and all(r["in_span"] for r in out)


def test_exact_dedup_same_length_different_text(spark):
    from acoustic_feature_extractor_spark.operators.dedup import exact_dedup

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["aaaa", "bbbb", "aaaa"]}
    )
    out = exact_dedup(spark.createDataFrame(pdf)).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]


def test_searchsorted_str_equals_column_path(spark):
    """The F.expr string build and the Column-tree build are the same
    function; both must match numpy.searchsorted(side='right')."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.functions.scalars import searchsorted

    vals = [-5.0, 0.0, 0.25, 1.0, 3.5, 10.0, 99.0]
    bounds = [0.0, 1.0, 3.5, 50.0]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got_str = [r["p"] for r in df.select(searchsorted("v", bounds).alias("p")).orderBy("v").collect()]
    got_col = [r["p"] for r in df.select(searchsorted(F.col("v"), bounds).alias("p")).orderBy("v").collect()]
    want = np.searchsorted(bounds, sorted(vals), side="right").tolist()
    assert got_str == want == got_col

    # string keys, including quote/backslash hazards in the literal path
    svals = ["apple", "it's", "z\\end", "mango"]
    sbounds = ["b", "it's", "y"]
    sdf = spark.createDataFrame(pd.DataFrame({"k": svals}))
    got_s = {r["k"]: r["p"] for r in sdf.select("k", searchsorted("k", sbounds).alias("p")).collect()}
    import bisect
    for v in svals:
        assert got_s[v] == bisect.bisect_right(sbounds, v)
