"""Skew engine: salted operators must be EXACTLY equal to their unsalted
windows — carry rows and two-phase partial/final merges preserve semantics
across chunk boundaries (the subtlest piece of the north_rule)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.operators.skew import (
    profile_entity_sizes,
    salted_cumsum,
    salted_forward_fill,
    salted_rolling,
)


def _skewed(spark, seed=31):
    rng = np.random.RandomState(seed)
    rows = []
    for key, n in [("mega", 500), ("small1", 7), ("small2", 23)]:
        v = rng.rand(n) * 100
        for i in range(n):
            rows.append((key, i, float(v[i]) if rng.rand() > 0.2 else None))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "v"])
    return spark.createDataFrame(pdf)


def test_salted_rolling_equals_plain(spark):
    df = _skewed(spark)
    got = (
        salted_rolling(df, "v", lo=-3, hi=2, agg="avg", chunk_rows=64, out_col="r")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-3, 2)
    exp = (
        df.withColumn("r", F.avg("v").over(w)).orderBy("conv_id", "turn_idx").toPandas()
    )
    np.testing.assert_allclose(
        got["r"].to_numpy(dtype=float), exp["r"].to_numpy(dtype=float)
    )
    assert len(got) == len(exp)


def _with_null_key(spark, df, n=130):
    """``df`` plus a NULL-key entity spanning several chunks: one entity,
    as in the plain window, and none of its rows may be lost."""
    rng = np.random.RandomState(5)
    extra = pd.DataFrame(
        {"conv_id": [None] * n, "turn_idx": range(n), "v": rng.rand(n) * 100}
    )
    extra.loc[extra.index % 4 == 1, "v"] = None
    return df.unionByName(spark.createDataFrame(extra, schema=df.schema))


def test_salted_cumsum_equals_plain(spark):
    df = _with_null_key(spark, _skewed(spark)).withColumn("v", F.coalesce("v", F.lit(0.0)))
    got = (
        salted_cumsum(df, "v", chunk_rows=50, out_col="c")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.withColumn("c", F.sum("v").over(w)).orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) == len(exp) == 660
    np.testing.assert_allclose(got["c"].to_numpy(), exp["c"].to_numpy(), rtol=1e-9)


def test_salted_ffill_equals_plain(spark):
    df = _with_null_key(spark, _skewed(spark))
    got = (
        salted_forward_fill(df, "v", chunk_rows=40, out_col="f")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(Window.unboundedPreceding, 0)
    exp = (
        df.withColumn("f", F.last("v", ignorenulls=True).over(w))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert len(got) == len(exp) == 660
    np.testing.assert_array_equal(
        got["f"].to_numpy(dtype=float), exp["f"].to_numpy(dtype=float)
    )


def test_profile_detects_mega(spark):
    df = _skewed(spark)
    sizes = {r["conv_id"]: r["n_rows"] for r in profile_entity_sizes(df).collect()}
    assert sizes["mega"] == 500 and sizes["small1"] == 7


def _skew_join_inputs(spark, seed=7):
    rng = np.random.RandomState(seed)
    fact = []
    for key, n in [(1, 400), (2, 9), (3, 17), (4, 0), (5, 3)]:
        for i in range(n):
            fact.append((key, float(rng.rand() * 10)))
    dim = [(1, "hot"), (2, "c2"), (3, "c3"), (5, "c5"), (9, "orphan")]
    return (
        spark.createDataFrame(fact, "k bigint, v double"),
        spark.createDataFrame(dim, "k bigint, name string"),
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_inner_equals_plain(spark):
    from acoustic_feature_extractor_spark.operators.skew import salted_join

    fact, dim = _skew_join_inputs(spark)
    got = salted_join(fact, dim, "k", n_salts=8)
    exp = fact.join(dim, "k")
    assert _sorted_rows(got.select("k", "v", "name")) == _sorted_rows(
        exp.select("k", "v", "name")
    )


def test_salted_join_left_and_hot_split(spark):
    from acoustic_feature_extractor_spark.operators.skew import (
        hot_entity_keys,
        salted_join,
    )

    fact, dim = _skew_join_inputs(spark)
    hot = hot_entity_keys(fact, "k", threshold=100)
    assert [r["k"] for r in hot.collect()] == [1]
    for how in ("inner", "left"):
        got = salted_join(fact, dim, "k", how=how, n_salts=8, hot_keys=hot)
        exp = fact.join(dim, "k", how)
        assert _sorted_rows(got.select("k", "v", "name")) == _sorted_rows(
            exp.select("k", "v", "name")
        ), how


def test_salted_join_rejects_right_full(spark):
    import pytest

    from acoustic_feature_extractor_spark.operators.skew import salted_join

    fact, dim = _skew_join_inputs(spark)
    with pytest.raises(ValueError, match="inner|left"):
        salted_join(fact, dim, "k", how="full")
