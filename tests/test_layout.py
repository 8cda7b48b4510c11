"""Z-order clustering + multi-column file skipping: the layout must make
EVERY clustered column prunable from the snapshot log's per-file stats
(the property a single-column range layout cannot have), while reads stay
semantically identical to a plain filter."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.sources import snapshots as snap
from acoustic_feature_extractor_spark.sources.layout import zorder_key, zorder_layout


@pytest.fixture(scope="module")
def xy(spark):
    # two independent uniform dimensions — the canonical z-order case
    return spark.range(120_000).selectExpr(
        "id",
        "CAST(pmod(xxhash64(id), 1000) AS DOUBLE) AS x",
        "CAST(pmod(xxhash64(id, 7), 1000) AS DOUBLE) AS y",
        "CAST(id AS DOUBLE) AS v",
    ).cache()


@pytest.fixture(scope="module")
def tables(spark, xy, tmp_path_factory):
    tz = str(tmp_path_factory.mktemp("zorder"))
    tr = str(tmp_path_factory.mktemp("range"))
    snap.commit(zorder_layout(xy, ["x", "y"], 64), tz)
    snap.commit(xy.repartitionByRange(64, "x"), tr)
    return tz, tr


BOX = {"x": (100.0, 349.0), "y": (200.0, 449.0)}


def test_read_where_multi_exact(spark, xy, tables):
    tz, _ = tables
    got = snap.read_where(spark, tz, BOX)
    exp = xy.where(
        (F.col("x").between(100.0, 349.0)) & (F.col("y").between(200.0, 449.0))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_zorder_prunes_both_dimensions(spark, tables):
    tz, tr = tables
    kz, total = snap.plan_scan(tz, BOX)
    kr, _ = snap.plan_scan(tr, BOX)
    assert total == 64
    # 2-D box: z-order touches fewer hyper-rectangles than the 1-D layout
    assert len(kz) < len(kr)
    # the decisive property: a predicate on the NON-partitioned column
    # prunes nothing on the range layout, but real fractions on z-order
    y_only = {"y": (200.0, 449.0)}
    kz_y, _ = snap.plan_scan(tz, y_only)
    kr_y, _ = snap.plan_scan(tr, y_only)
    assert len(kr_y) == 64
    assert len(kz_y) <= 32


def test_zorder_timestamp_column(spark, tmp_path):
    base = dt.datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [
            (i, base + dt.timedelta(minutes=i % 797), float(i % 53))
            for i in range(4_000)
        ],
        "id bigint, ts timestamp, m double",
    )
    t = str(tmp_path / "tsz")
    snap.commit(zorder_layout(df, ["ts", "m"], 8), t)
    lo = base + dt.timedelta(minutes=100)
    hi = base + dt.timedelta(minutes=200)
    preds = {"ts": (lo, hi), "m": (10.0, 20.0)}
    kept, total = snap.plan_scan(t, preds)
    assert total == 8 and 0 < len(kept) < total
    got = snap.read_where(spark, t, preds)
    exp = df.where(
        (F.col("ts") >= F.lit(lo))
        & (F.col("ts") <= F.lit(hi))
        & (F.col("m").between(10.0, 20.0))
    )
    assert got.count() == exp.count()


def test_zorder_constant_and_null_columns(spark, tmp_path):
    # a constant column contributes bin 0 everywhere; nulls bin to 0 —
    # neither may poison the layout or the read
    df = spark.createDataFrame(
        [(i, 5.0, float(i) if i % 3 else None) for i in range(1_000)],
        "id bigint, c double, x double",
    )
    t = str(tmp_path / "constz")
    snap.commit(zorder_layout(df, ["c", "x"], 4), t)
    got = snap.read_where(spark, t, {"x": (100.0, 400.0)})
    assert got.count() == df.where("x between 100 and 400").count()


def test_zorder_rejects_string_columns(spark):
    df = spark.range(10).selectExpr("id", "concat('s', id) AS s")
    with pytest.raises(TypeError, match="non-numeric"):
        zorder_layout(df, ["s", "id"], 2)


def test_zorder_bits_overflow(spark, xy):
    with pytest.raises(ValueError, match="64-bit"):
        zorder_layout(xy, ["x", "y"], 4, bits=32)


def test_zorder_key_locality(spark, xy):
    # structural check on the curve itself: equal bins -> equal z; moving
    # one bin along either axis flips low-order interleaved bits only
    bounds = {"x": (0.0, 999.0), "y": (0.0, 999.0)}
    z = xy.limit(1000).withColumn("z", zorder_key(xy, ["x", "y"], bounds, bits=8))
    # z of (x,y) and (y,x) columns differ unless symmetric: just assert
    # deterministic and non-constant
    vals = [r["z"] for r in z.select("z").collect()]
    assert len(set(vals)) > 10


def test_plan_scan_multi_validation(spark, tmp_path):
    t = str(tmp_path / "val")
    snap.commit(spark.range(10), t)
    with pytest.raises(ValueError, match="at least one predicate"):
        snap.plan_scan(t, {})
    with pytest.raises(ValueError, match="at least one bound"):
        snap.plan_scan(t, {"id": (None, None)})
