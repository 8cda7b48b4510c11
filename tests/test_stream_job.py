"""Streaming ingestion job: drain mode, checkpoint resume, in-batch dedup."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def run(run_job):
    """Run the job in-process; return its JSON line."""

    def call(args: list[str]) -> dict:
        rc, out = run_job("stream_turn_features", args)
        assert rc == 0
        return out

    return call


def _stage(df, incoming: str, name: str) -> None:
    """Write a batch as complete parquet files into the watched dir
    (staging + move: the file source must only ever see whole files)."""
    stage = incoming + f"__stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    for i, f in enumerate(sorted(glob.glob(os.path.join(stage, "part-*.parquet")))):
        shutil.move(f, os.path.join(incoming, f"{name}_{i}.parquet"))
    shutil.rmtree(stage)


@pytest.mark.slow
def test_stream_job_drain_resume_dedup(tmp_path, spark, run):
    from acoustic_feature_extractor_spark.datagen import generate_transcripts

    incoming = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    os.makedirs(incoming)

    t = generate_transcripts(spark, n_convs=30)
    # uniquify texts so the dedup stage is exercised ONLY by the
    # duplicates we plant explicitly
    t = t.withColumn(
        "text", F.concat_ws("|", "text", "conv_id", F.col("turn_idx").cast("string"))
    ).persist()
    # waves split by TIME (later files carry newer events): wave 2 rows
    # older than wave 1's persisted watermark would be dropped as late —
    # correct streaming semantics, wrong fixture shape
    tmid = t.agg(F.expr("percentile(cast(ts as double), 0.5)")).first()[0]
    b1 = t.where(F.col("ts").cast("double") < tmid)
    b2_new = t.where(F.col("ts").cast("double") >= tmid)
    n1, n2 = b1.count(), b2_new.count()

    _stage(b1, incoming, "b1")
    m1 = run(["--input", incoming, "--output", out, "--drain"])
    assert m1["sink_rows"] == n1

    # re-run with nothing new: checkpoint resume must emit ZERO rows
    m1b = run(["--input", incoming, "--output", out, "--drain"])
    assert m1b["sink_rows"] == 0

    # second wave: new rows plus exact duplicates of 20 of them (same
    # micro-batch, same event time) — duplicates must be dropped
    dups = b2_new.orderBy("conv_id", "turn_idx").limit(20)
    _stage(b2_new.unionByName(dups), incoming, "b2")
    m2 = run(["--input", incoming, "--output", out, "--drain"])
    assert m2["sink_rows"] == n2

    sink = spark.read.parquet(os.path.join(out, "features"))
    assert sink.count() == n1 + n2
    assert sink.select("text").distinct().count() == n1 + n2
    assert {"text_len", "n_tokens"} <= set(sink.columns)
    t.unpersist()


@pytest.mark.slow
def test_stream_job_asof_enrichment(tmp_path, spark, run):
    """--dimension: every streamed row carries the dimension payload as
    of its own timestamp (batch as-of join is the oracle)."""
    from acoustic_feature_extractor_spark.datagen import generate_transcripts
    from acoustic_feature_extractor_spark.operators.asof import asof_join

    incoming = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    os.makedirs(incoming)

    t = generate_transcripts(spark, n_convs=12).withColumn(
        "text", F.concat_ws("|", "text", "conv_id", F.col("turn_idx").cast("string"))
    )
    # slowly-changing dimension: each conv's plan tier changes at its
    # mid-history turn's actual timestamp (keeps the ts type intact)
    mid = t.groupBy("conv_id").agg(F.max("turn_idx").alias("_mx"), F.min("ts").alias("t0"))
    tm = (
        t.join(mid, "conv_id")
        .where(F.col("turn_idx") == F.floor(F.col("_mx") / 2))
        .select("conv_id", F.col("ts").alias("tm"))
    )
    dim = (
        mid.join(tm, "conv_id")
        .select(
            "conv_id",
            F.explode(
                F.array(
                    F.struct(F.col("t0").alias("ts"), F.lit("free").alias("tier")),
                    F.struct(F.col("tm").alias("ts"), F.lit("pro").alias("tier")),
                )
            ).alias("_d"),
        )
        .select("conv_id", "_d.ts", "_d.tier")
    )
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)

    _stage(t, incoming, "b1")
    run(["--input", incoming, "--output", out, "--drain", "--dimension", dim_path])

    sink = spark.read.parquet(os.path.join(out, "features"))
    got = {
        (r["conv_id"], r["turn_idx"]): r["tier_dim"]
        for r in sink.select("conv_id", "turn_idx", "tier_dim").collect()
    }
    want_df = asof_join(
        t, dim, on="ts", by="conv_id", right_cols=["tier"], suffix="_dim"
    )
    want = {
        (r["conv_id"], r["turn_idx"]): r["tier_dim"]
        for r in want_df.select("conv_id", "turn_idx", "tier_dim").collect()
    }
    assert got == want
    assert set(got.values()) == {"free", "pro"}
