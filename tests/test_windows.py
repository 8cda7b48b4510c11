"""Window operators vs numpy/pandas oracles (reference test style:
closed-form exact-equality unit tests, ``tests/test_sampling_data.py:15-113``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.windows import (
    degenerate,
    with_context_features,
)


def _pdf(spark, n=50, key="conv_id"):
    rng = np.random.RandomState(42)
    pdf = pd.DataFrame(
        {
            key: ["a"] * n + ["b"] * (n // 2),
            "turn_idx": list(range(n)) + list(range(n // 2)),
            "v": rng.rand(n + n // 2) * 100,
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_degenerate_matches_pandas_rolling(spark):
    df, pdf = _pdf(spark)
    out = degenerate(df, "v", frame_length=5, key="conv_id", order="turn_idx")
    got = out.orderBy("conv_id", "turn_idx").toPandas()
    for k, g in pdf.groupby("conv_id"):
        gg = got[got.conv_id == k].reset_index(drop=True)
        # pandas centered rolling with min_periods=1 == shrunken edge windows
        r = g["v"].rolling(window=5, center=True, min_periods=1)
        np.testing.assert_allclose(gg["v_mean"], r.mean().to_numpy())
        np.testing.assert_allclose(gg["v_min"], r.min().to_numpy())
        np.testing.assert_allclose(gg["v_max"], r.max().to_numpy())
        np.testing.assert_allclose(gg["v_median"], r.median().to_numpy())


def test_degenerate_hop_downsample(spark):
    df, pdf = _pdf(spark)
    out = degenerate(df, "v", frame_length=4, hop_length=2, aggs=("mean",))
    got = out.orderBy("conv_id", "turn_idx").toPandas()
    assert (got["turn_idx"] % 2 == 0).all()
    # output rate = rate / hop (sampling_data.py:172-175)
    n_a = len(pdf[pdf.conv_id == "a"])
    assert len(got[got.conv_id == "a"]) == (n_a + 1) // 2


def test_context_features_boundaries(spark):
    df, pdf = _pdf(spark, n=10)
    out = with_context_features(
        df, ["v"], key="conv_id", order="turn_idx", defaults={"v": -1.0}
    )
    got = out.orderBy("conv_id", "turn_idx").toPandas()
    a = got[got.conv_id == "a"].reset_index(drop=True)
    pa = pdf[pdf.conv_id == "a"].reset_index(drop=True)
    # boundary rows get the synthetic default (linguistic_feature.py:81-95)
    assert a.loc[0, "prev_v"] == -1.0
    assert a.loc[len(a) - 1, "next_v"] == -1.0
    np.testing.assert_allclose(a.loc[1:, "prev_v"], pa.loc[: len(pa) - 2, "v"])


def test_pad_segments_to_max(spark):
    """W7 parity: every segment padded to the entity max with the segment's
    last value (sampling_data.py:62-81 analog), verified vs numpy.pad."""
    import pandas as pd
    from acoustic_feature_extractor_spark.operators.windows import pad_segments_to_max

    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 7 + ["b"] * 4,
            "session_id": [0, 0, 0, 1, 1, 2, 2, 0, 0, 0, 1],
            "turn_idx": list(range(7)) + list(range(4)),
            "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 10.0, 11.0, 12.0, 13.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        pad_segments_to_max(df, "v", key="conv_id", segment_col="session_id", order="turn_idx")
        .orderBy("conv_id", "session_id", "pos")
        .toPandas()
    )
    for (cid, seg), grp in pdf.groupby(["conv_id", "session_id"]):
        max_n = pdf[pdf.conv_id == cid].groupby("session_id").size().max()
        vals = grp["v"].to_numpy()
        expected = np.pad(vals, (0, max_n - len(vals)), mode="edge")
        got = out[(out.conv_id == cid) & (out.session_id == seg)].sort_values("pos")
        np.testing.assert_allclose(got["v"].to_numpy(), expected)
        assert (got["is_pad"].to_numpy() == ([False] * len(vals) + [True] * (max_n - len(vals)))).all()
    # all segments of an entity end up the same length
    lens = out.groupby(["conv_id", "session_id"]).size()
    for cid in ("a", "b"):
        assert lens[cid].nunique() == 1


def test_topk_per_group_salted_equals_plain(spark, transcripts):
    """Two-phase salted top-k == the single-window top-k, at any input
    partitioning (the salt is spark_partition_id, so repartitioning is
    the adversarial case)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from acoustic_feature_extractor_spark.operators.windows import topk_per_group

    t = transcripts.limit(3000).withColumn("text_len", F.length("text"))
    order = [F.col("text_len").desc(), F.col("conv_id"), F.col("turn_idx")]
    w = Window.partitionBy("role").orderBy(*order)
    plain = (
        t.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 7)
        .select("role", "conv_id", "turn_idx", "rank")
    )
    exp = sorted(map(tuple, plain.collect()))
    for parts in (1, 3, 17):
        got = topk_per_group(t.repartition(parts), "role", order, k=7)
        assert sorted(map(tuple, got.select("role", "conv_id", "turn_idx", "rank").collect())) == exp


def test_topk_per_group_small_groups(spark):
    """k >= group size: every row survives with its exact rank."""
    import pandas as pd
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.windows import topk_per_group

    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [3, 1, 2], "id": [0, 1, 2]})
    got = topk_per_group(
        spark.createDataFrame(pdf).repartition(4),
        "g",
        [F.col("v").desc(), F.col("id")],
        k=10,
    )
    rows = {(r["g"], r["id"]): r["rank"] for r in got.collect()}
    assert rows == {("a", 0): 1, ("a", 1): 2, ("b", 2): 1}
