"""Closed-vocabulary onehot assembly vs a numpy reference kernel
(the reference's phoneme onehot + linguistic-feature assembly,
``phoneme.py:44-48`` / ``linguistic_feature.py:97-127``)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from acoustic_feature_extractor_spark.operators.features import (
    assemble_context_onehot,
    label_id,
    onehot,
)

VOCAB = ["user", "assistant", "tool", "pad"]


def _fixture(spark):
    rows = []
    rng = np.random.RandomState(3)
    for conv in ["c1", "c2"]:
        n = int(rng.randint(3, 9))
        for i in range(n):
            rows.append(
                (conv, i, VOCAB[rng.randint(0, 3)], float(rng.rand() * 10))
            )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "dur"])
    return spark.createDataFrame(pdf), pdf


def _numpy_assembly(pdf: pd.DataFrame) -> dict[tuple, np.ndarray]:
    """Reference-semantics kernel: onehot(label) ++ onehot(prev) ++
    onehot(next) ++ (dur, prev_dur, next_dur); boundaries = 'pad' / 0."""

    def oh(label: str) -> np.ndarray:
        a = np.zeros(len(VOCAB))
        a[VOCAB.index(label)] = 1.0
        return a

    out = {}
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx").reset_index(drop=True)
        for i in range(len(g)):
            prev = g["role"][i - 1] if i > 0 else "pad"
            nxt = g["role"][i + 1] if i + 1 < len(g) else "pad"
            pd_dur = g["dur"][i - 1] if i > 0 else 0.0
            nx_dur = g["dur"][i + 1] if i + 1 < len(g) else 0.0
            out[(conv, i)] = np.concatenate(
                [
                    oh(g["role"][i]),
                    oh(prev),
                    oh(nxt),
                    [g["dur"][i], pd_dur, nx_dur],
                ]
            )
    return out


def test_assembly_matches_numpy_kernel(spark):
    df, pdf = _fixture(spark)
    got = assemble_context_onehot(
        df, "role", VOCAB, boundary_label="pad", duration_col="dur"
    ).collect()
    exp = _numpy_assembly(pdf)
    assert len(got) == len(exp)
    for r in got:
        np.testing.assert_allclose(
            np.array(r["features"]), exp[(r["conv_id"], r["turn_idx"])],
            err_msg=str((r["conv_id"], r["turn_idx"])),
        )


def test_full_vector_with_accent_and_id_matches_numpy(spark):
    """The reference's complete per-span vector incl. ACCENT (2 dims,
    linguistic_feature.py:118-121) and PHONEME_ID (1 dim, :110-111):
    onehot x3 ++ [id] ++ durations ++ [start_acc, end_acc]."""
    df, pdf = _fixture(spark)
    rng = np.random.RandomState(9)
    pdf = pdf.copy()
    pdf["sa"] = rng.rand(len(pdf)) > 0.5
    pdf["ea"] = rng.rand(len(pdf)) > 0.5
    df = spark.createDataFrame(pdf)
    got = assemble_context_onehot(
        df, "role", VOCAB, boundary_label="pad", duration_col="dur",
        accent_cols=("sa", "ea"), include_label_id=True,
    ).collect()
    base = _numpy_assembly(pdf)
    exp = {}
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx").reset_index(drop=True)
        for i in range(len(g)):
            b = base[(conv, i)]
            # splice [label_id] between the 3 onehots and the durations,
            # then append the reference's [bool(start), bool(end)] pair
            exp[(conv, i)] = np.concatenate(
                [
                    b[: 3 * len(VOCAB)],
                    [float(VOCAB.index(g["role"][i]))],
                    b[3 * len(VOCAB):],
                    [float(bool(g["sa"][i])), float(bool(g["ea"][i]))],
                ]
            )
    assert len(got) == len(exp)
    for r in got:
        np.testing.assert_allclose(
            np.array(r["features"]), exp[(r["conv_id"], r["turn_idx"])],
            err_msg=str((r["conv_id"], r["turn_idx"])),
        )


def test_label_id_out_of_vocab_and_null(spark):
    pdf = pd.DataFrame({"x": ["tool", "INVALID", None, "user"]})
    rows = (
        spark.createDataFrame(pdf)
        .select(label_id("x", VOCAB).alias("i"))
        .collect()
    )
    assert [r["i"] for r in rows] == [2.0, -1.0, -1.0, 0.0]


def test_accent_null_is_false(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user", "tool", "user"],
            "sa": [True, None, False],
            "ea": [None, True, False],
        }
    )
    got = assemble_context_onehot(
        spark.createDataFrame(pdf), "role", VOCAB,
        boundary_label="pad", accent_cols=("sa", "ea"),
    ).collect()
    tail = {r["turn_idx"]: r["features"][-2:] for r in got}
    assert tail == {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [0.0, 0.0]}


def test_onehot_out_of_vocab_and_null(spark):
    """Unknown or NULL labels yield the all-zero vector (the operator
    never raises mid-job)."""
    pdf = pd.DataFrame({"x": ["user", "INVALID", None]})
    df = spark.createDataFrame(pdf)
    rows = df.select(onehot("x", VOCAB).alias("v")).collect()
    assert rows[0]["v"] == [1.0, 0.0, 0.0, 0.0]
    assert rows[1]["v"] == [0.0, 0.0, 0.0, 0.0]
    assert rows[2]["v"] == [0.0, 0.0, 0.0, 0.0]


def test_assemble_feature_vector_contract(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.features import (
        assemble_feature_vector,
    )

    df = spark.createDataFrame(
        [(1, 2.0, None, 5), (2, 0.5, 3.25, None)],
        "id long, a double, b double, c long",
    )
    out, mani = assemble_feature_vector(df, ["a", "b", "c"], impute=0.0)
    rows = {r.id: r for r in out.collect()}
    assert rows[1].features == [2.0, 0.0, 5.0] and rows[1].n_null == 1
    assert rows[2].features == [0.5, 3.25, 0.0] and rows[2].n_null == 1
    assert [(r.feature_idx, r.feature_name) for r in mani.orderBy("feature_idx").collect()] == [
        (0, "a"), (1, "b"), (2, "c")
    ]
    # no impute: NULL passes through, count still honest
    out2, _ = assemble_feature_vector(df, ["b"], impute=None)
    r1 = {r.id: r for r in out2.collect()}
    assert r1[1].features == [None] and r1[1].n_null == 1
    with _pytest.raises(ValueError, match="non-empty"):
        assemble_feature_vector(df, [])
    # pure projection: no exchange in the plan
    import contextlib, io, re
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert not re.findall(r"\(\d+\) Exchange\b", buf.getvalue())
