"""k-anonymity suppression / redaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.privacy import k_anonymize


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        # (region, segment, sensitive, id) — "eu/b" has 1 row, "us/a" 4,
        # "us/b" 2, "eu/a" 3; "eu/a" is sensitive-uniform (l = 1)
        ("us", "a", "x", 1),
        ("us", "a", "y", 2),
        ("us", "a", "x", 3),
        ("us", "a", "z", 4),
        ("us", "b", "x", 5),
        ("us", "b", "y", 6),
        ("eu", "a", "x", 7),
        ("eu", "a", "x", 8),
        ("eu", "a", "x", 9),
        ("eu", "b", "y", 10),
    ]
    return spark.createDataFrame(
        rows, "region string, segment string, s string, id int"
    ).cache()


def test_suppress_drops_small_groups_only(spark, people):
    out = k_anonymize(people, ["region", "segment"], k=2, mode="suppress")
    ids = {r["id"] for r in out.collect()}
    assert ids == {1, 2, 3, 4, 5, 6, 7, 8, 9}  # eu/b (n=1) dropped
    # post-condition: every surviving quasi tuple appears >= k times
    sizes = out.groupBy("region", "segment").count().collect()
    assert all(r["count"] >= 2 for r in sizes)


def test_suppress_k3(spark, people):
    out = k_anonymize(people, ["region", "segment"], k=3, mode="suppress")
    assert {r["id"] for r in out.collect()} == {1, 2, 3, 4, 7, 8, 9}


def test_redact_keeps_rows_and_masks(spark, people):
    out = k_anonymize(people, ["region", "segment"], k=3, mode="redact")
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 10  # nothing dropped
    for i in (5, 6, 10):  # us/b (n=2) and eu/b (n=1) masked
        assert rows[i]["region"] == "*" and rows[i]["segment"] == "*"
    for i in (1, 2, 3, 4, 7, 8, 9):
        assert rows[i]["region"] != "*"
    # the masked rows form one anonymous group of size >= k or are the
    # only violation left (all real-valued tuples satisfy k)
    real = out.where(F.col("region") != "*")
    assert all(
        r["count"] >= 3 for r in real.groupBy("region", "segment").count().collect()
    )


def test_bad_args(spark, people):
    with pytest.raises(ValueError):
        k_anonymize(people, ["region"], k=0)
    with pytest.raises(ValueError):
        k_anonymize(people, ["region"], k=2, mode="nope")
