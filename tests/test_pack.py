"""Sequence-packing operators: concat-and-chunk tape math, next-fit
recursion vs a straight-line python reference, utilization report.

These are beyond-reference training-pipeline ops (the reference packs
work by duration for scheduling, ``extract_f0_range.py:50-78``; here we
pack tokens into context windows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.pack import (
    _greedy_fill,
    pack_concat,
    pack_greedy,
    pack_utilization,
)

CAP = 100


def _docs(spark, ns, ids=None):
    ids = ids if ids is not None else list(range(len(ns)))
    pdf = pd.DataFrame({"doc_id": ids, "n_tokens": ns})
    return spark.createDataFrame(pdf)


def _greedy_ref(ns, cap):
    """Straight-line next-fit: the semantics _greedy_fill must reproduce."""
    packs, fill, p = [], 0, 0
    first = True
    for n in ns:
        if not first and fill + n > cap:
            p += 1
            fill = 0
        packs.append(p)
        fill += n
        first = False
    return packs


@pytest.mark.parametrize(
    "ns",
    [
        [10, 20, 30, 50, 5, 99, 1],
        [100, 100, 100],          # exact fits
        [250, 3, 250, 3],         # over-capacity docs
        [0, 0, 100, 0, 1],        # zero-token docs
        [1],
        [101],
    ],
)
def test_greedy_fill_matches_reference(ns):
    got = _greedy_fill(np.array(ns, dtype="int64"), CAP).tolist()
    assert got == _greedy_ref(ns, CAP)


def test_greedy_fill_random_property():
    rng = np.random.RandomState(3)
    for _ in range(25):
        ns = rng.randint(0, 2 * CAP, size=rng.randint(1, 200)).astype("int64")
        assert _greedy_fill(ns, CAP).tolist() == _greedy_ref(ns.tolist(), CAP)


def test_pack_concat_tape(spark):
    ns = [40, 80, 30, 120, 10]
    out = (
        pack_concat(
            _docs(spark, ns), capacity=CAP, bucket=F.lit(0)
        )
        .orderBy("doc_id")
        .collect()
    )
    starts = [r["tape_start"] for r in out]
    assert starts == [0, 40, 120, 150, 270]
    # doc1 (40..119) straddles the cut at 100 -> 2 pieces
    assert [r["n_pieces"] for r in out] == [1, 2, 1, 2, 1]
    assert [r["pack_first"] for r in out] == [0, 0, 1, 1, 2]
    assert [r["pack_last"] for r in out] == [0, 1, 1, 2, 2]


def test_pack_concat_zero_tokens(spark):
    out = (
        pack_concat(_docs(spark, [100, 0, 5]), capacity=CAP, bucket=F.lit(0))
        .orderBy("doc_id")
        .collect()
    )
    z = out[1]
    assert z["n_tokens"] == 0 and z["tape_start"] == 100
    assert z["pack_first"] == z["pack_last"] == 1 and z["n_pieces"] == 1


def test_pack_greedy_distributed_matches_reference(spark):
    rng = np.random.RandomState(11)
    ns = rng.randint(1, 180, size=400).tolist()
    df = _docs(spark, ns)
    out = pack_greedy(df, capacity=CAP).orderBy("bucket", "doc_id")
    pdf = out.toPandas()
    # per bucket, the distributed result equals the straight-line reference
    for b, grp in pdf.groupby("bucket"):
        grp = grp.sort_values("doc_id")
        assert grp["pack_id"].tolist() == _greedy_ref(grp["n_tokens"].tolist(), CAP)
        # pack_pos restarts at 0 on every pack change
        pos = grp["pack_pos"].to_numpy()
        newpack = np.diff(grp["pack_id"].to_numpy(), prepend=-1) != 0
        assert (pos[newpack] == 0).all()
        assert (np.diff(pos)[~newpack[1:]] == 1).all()
    # buckets agree with the hash layout and every doc survives exactly once
    assert len(pdf) == 400
    assert pdf["doc_id"].is_unique


def test_pack_greedy_capacity_invariant(spark):
    ns = [30, 30, 30, 30, 250, 10]
    out = pack_greedy(_docs(spark, ns), capacity=CAP, bucket=F.lit(0))
    util = pack_utilization(out, capacity=CAP).orderBy("pack_id").collect()
    # only over-capacity single-doc packs may exceed 1.0 utilization
    for r in util:
        if r["utilization"] > 1.0:
            assert r["n_docs"] == 1
    assert sum(r["n_docs"] for r in util) == len(ns)
    assert sum(r["pack_tokens"] for r in util) == sum(ns)


def test_pack_greedy_deterministic_across_partitionings(spark):
    ns = list(np.random.RandomState(5).randint(1, 150, size=120))
    df = _docs(spark, ns)
    a = pack_greedy(df, capacity=CAP).orderBy("doc_id").collect()
    b = (
        pack_greedy(df.repartition(7), capacity=CAP)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b
