"""Interval operators vs closed-form oracles
(``linguistic_feature.py:129-150``, ``extract_silence_expanded_label.py:30-61``)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.intervals import (
    adjust_boundaries_to_idle,
    expand_spans_to_grid,
    mask_from_spans,
)


def test_expand_grid_positions(spark):
    spans = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "label": ["x"], "start_s": [2.0], "end_s": [5.0]})
    )
    g = (
        expand_spans_to_grid(spans, rate=1.0, start_col="start_s", end_col="end_s")
        .orderBy("grid_idx")
        .toPandas()
    )
    assert g["grid_idx"].tolist() == [2, 3, 4, 5]
    assert g["pos_in"].tolist() == [0.0, 1.0, 2.0, 3.0]
    assert g["pos_out"].tolist() == [3.0, 2.0, 1.0, 0.0]


def test_mask_from_spans(spark):
    frames = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a"] * 5,
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:%02d" % s for s in [0, 10, 20, 30, 40]]
                ),
            }
        )
    )
    spans = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a"],
                "start_ts": pd.to_datetime(["2024-01-01 00:00:10"]),
                "end_ts": pd.to_datetime(["2024-01-01 00:00:30"]),
            }
        )
    )
    out = mask_from_spans(frames, spans).orderBy("ts").toPandas()
    assert out["in_span"].tolist() == [False, True, True, False, False]


def test_adjust_boundaries_contiguity(spark):
    """After snapping to idle runs, spans stay contiguous (shared edges) —
    the reference's verified invariant (``phoneme.py:69-74``)."""
    spans = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a"] * 3,
                "span_id": [0, 1, 2],
                "label": ["x", "y", "z"],
                "start_ts": [0.0, 10.0, 20.0],
                "end_ts": [10.0, 20.0, 30.0],
            }
        )
    )
    idle = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "start_ts": [8.0], "end_ts": [11.0]})
    )
    out = (
        adjust_boundaries_to_idle(spans, idle, min_span_seconds=1.0)
        .orderBy("span_id")
        .toPandas()
    )
    # dtype-preserving: double bounds in, double bounds out
    starts = out["start_ts"].tolist()
    ends = out["end_ts"].tolist()
    # span 1's start snapped left to the idle start (8.0)
    assert starts[1] == 8.0
    # contiguity: end of i == start of i+1
    assert ends[0] == starts[1] and ends[1] == starts[2]
