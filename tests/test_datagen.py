"""Generator invariants — the FIXTURES.md contract.

Mirrors the reference's fixture discipline: deterministic closed-form
inputs (``/root/reference/tests/test_extract/conftest.py:29-77``) and
verified interval invariants (``phoneme.py:69-74``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.datagen import (
    SESSION_GAP_SECONDS,
    generate_transcripts,
)


def test_deterministic(spark):
    a = generate_transcripts(spark, n_convs=15).collect()
    b = generate_transcripts(spark, n_convs=15, partitions=3).collect()
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_contiguous_turn_idx(transcripts):
    """turn_idx is contiguous and 0-based per conversation, and the key
    columns are never NULL — the reference's interval invariants
    (``phoneme.py:69-74``) recast."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = transcripts.withColumn("rn", F.row_number().over(w) - 1).where(
        (F.col("rn") != F.col("turn_idx")) | F.col("conv_id").isNull() | F.col("ts").isNull()
    )
    assert bad.count() == 0


def test_text_equality_invariant(spark, transcripts):
    """Per-turn text is a pure function of (conv_id, turn_idx) and survives
    arbitrary reshuffling (the input_hint row invariant)."""
    shuffled = transcripts.repartition(7).sortWithinPartitions("ts")
    expected = F.concat(
        F.col("conv_id"),
        F.lit(":"),
        F.col("turn_idx").cast("string"),
        F.lit(":"),
        F.repeat(F.lit("x"), (F.col("turn_idx") % 37).cast("int")),
    )
    assert shuffled.where(F.col("text") != expected).count() == 0


def test_session_gaps_exist(transcripts):
    from acoustic_feature_extractor_spark.operators.sessionize import sessionize

    s = sessionize(transcripts, gap_seconds=SESSION_GAP_SECONDS)
    n_sessions = s.groupBy("conv_id").agg(F.max("session_id").alias("m")).where(F.col("m") > 0)
    assert n_sessions.count() > 0


def test_mega_conversation_skew(transcripts):
    sizes = transcripts.groupBy("conv_id").count().collect()
    mx = max(r["count"] for r in sizes)
    med = sorted(r["count"] for r in sizes)[len(sizes) // 2]
    assert mx >= 6 * med  # heavy tail present


def test_turn_features_populations(turn_features_df):
    """mean(low-scale population) < mean(high-scale population), as in the
    reference's low/high f0 stats test
    (``tests/test_extract/test_extract_f0_statistics.py:36-76``)."""
    d = turn_features_df.withColumn(
        "pop",
        F.when(F.substring("conv_id", 5, 6).cast("long") % 2 == 0, "high").otherwise("low"),
    )
    m = {r["pop"]: r["m"] for r in d.groupBy("pop").agg(F.avg("feature").alias("m")).collect()}
    assert m["low"] < m["high"]

