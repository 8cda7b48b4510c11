"""Structured Streaming smoke: session windows on a file-backed stream
driven to completion with processAllAvailable (no external broker)."""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest

from acoustic_feature_extractor_spark.streaming.sessions import streaming_session_agg


def test_streaming_session_agg(spark, transcripts):
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        transcripts.limit(2000).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        agg = streaming_session_agg(stream, gap_seconds=300.0)
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("sess_out")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM sess_out").collect()
        finally:
            q.stop()
        assert len(rows) > 0
        assert all(r["n_turns"] >= 1 for r in rows)


def test_streaming_state_fill_matches_batch(spark, transcripts):
    """applyInPandasWithState forward-fill over TWO sequential file drops
    must equal the batch forward_fill over the full table — GroupState is
    the cross-micro-batch carrier."""
    from acoustic_feature_extractor_spark.operators.fill import forward_fill
    from acoustic_feature_extractor_spark.streaming.sessions import streaming_state_fill
    import pyspark.sql.functions as F

    t = transcripts.limit(1500).select("conv_id", "turn_idx", "ts", "tool").cache()
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        # two drops: early turns first, later turns second — state must
        # carry the fill across the micro-batch boundary
        t.where(F.col("turn_idx") < 5).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_state_fill(stream, value_col="tool")
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("fill_out")
            .start()
        )
        try:
            q.processAllAvailable()
            t.where(F.col("turn_idx") >= 5).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = (
                spark.sql("SELECT * FROM fill_out")
                .orderBy("conv_id", "ts")
                .toPandas()
            )
        finally:
            q.stop()
    exp = (
        forward_fill(t, "tool", out_col="filled")
        .orderBy("conv_id", "ts")
        .select("conv_id", "ts", "tool", "filled")
        .toPandas()
    )
    assert len(got) == len(exp)
    assert (
        got["filled"].fillna("∅").to_numpy() == exp["filled"].fillna("∅").to_numpy()
    ).all()


def test_state_fill_multi_chunk_groups(spark, tmp_path):
    """applyInPandasWithState delivers a group as MULTIPLE Arrow chunks
    with no cross-chunk ts ordering; the fill must sort the whole group
    once (a chunk-at-a-time fill could back-fill earlier rows from a
    later-ts chunk that arrived first). Forced here by shrinking the
    Arrow batch size far below the group size."""
    import pandas as pd

    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_state_fill,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        n = 400
        base = pd.Timestamp("2024-01-01")
        # value only at the first row; later rows must fill from it, never
        # from any out-of-order chunk boundary artifact
        pdf = pd.DataFrame(
            {
                "conv_id": ["c"] * n,
                "ts": [base + pd.Timedelta(seconds=i) for i in range(n)],
                "tool": ["t0"] + [None] * (n - 2) + ["t1"],
            }
        )
        # shuffle row order so chunk boundaries don't align with ts order
        pdf = pdf.sample(frac=1.0, random_state=5).reset_index(drop=True)
        src = str(tmp_path / "src")
        spark.createDataFrame(pdf).write.parquet(src)
        stream = spark.readStream.schema(
            "conv_id string, ts timestamp, tool string"
        ).parquet(src)
        out = streaming_state_fill(stream, value_col="tool")
        q = (
            out.writeStream.format("memory")
            .queryName("fill_chunks")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select * from fill_chunks").toPandas().sort_values("ts")
        assert got["filled"].iloc[:-1].eq("t0").all()
        assert got["filled"].iloc[-1] == "t1"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_streaming_exact_dedup_matches_batch(spark, transcripts):
    """Streamed content-hash dedup keeps exactly one row per distinct
    text (the batch exact-dedup cardinality) when everything arrives
    within the watermark horizon."""
    from acoustic_feature_extractor_spark.streaming.enrich import (
        streaming_exact_dedup,
    )

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        base = transcripts.limit(500)
        # plant exact duplicates
        base.unionAll(base.limit(100)).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_exact_dedup(stream, text_col="text", watermark="1 hour")
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_out")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT text FROM dedup_out").collect()
        finally:
            q.stop()
        n_distinct = base.select("text").distinct().count()
        assert len(got) == n_distinct
        assert len({r["text"] for r in got}) == n_distinct


def test_streaming_rollup_matches_batch(spark, transcripts):
    """The watermarked streaming rollup, drained to completion, must equal
    the batch rollup row-for-row (same buckets, same decomposable stats)."""
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.rollup import rollup
    from acoustic_feature_extractor_spark.streaming.sessions import streaming_rollup

    src_df = (
        transcripts.limit(2000)
        .where(F.col("ts").isNotNull())
        .select(
            F.col("conv_id").alias("user_id"),
            "ts",
            F.length("text").cast("double").alias("value"),
        )
    )
    want = sorted(
        map(
            tuple,
            rollup(src_df, 600.0, by="user_id", value_col="value").collect(),
        )
    )

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        src_df.write.parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        agg = streaming_rollup(stream, 600.0, watermark="1 hour")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("roll_out")
            .start()
        )
        try:
            q.processAllAvailable()
            got = sorted(
                map(tuple, spark.sql("SELECT * FROM roll_out").collect())
            )
        finally:
            q.stop()
    assert got == want


def test_streaming_interval_join_matches_batch(spark, transcripts):
    """Stream-stream trailing-window join (watermarked both sides) must
    equal the batch range join with the identical key + time-bound
    condition — same multiplicity, not just the same key set."""
    from collections import Counter

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.streaming.enrich import (
        streaming_interval_join,
    )

    base = transcripts.limit(600).where(F.col("ts").isNotNull())
    left = base.select("conv_id", "turn_idx", "ts")
    right = base.where(F.col("tool").isNotNull()).select(
        "conv_id", "ts", F.col("tool").alias("signal")
    )
    lag = 120.0
    batch = left.join(
        right.select(
            F.col("conv_id").alias("_rc"),
            F.col("ts").alias("ts_r"),
            F.col("signal").alias("signal_r"),
        ),
        (F.col("conv_id") == F.col("_rc"))
        & (F.col("ts_r") >= F.col("ts") - F.expr(f"INTERVAL '{lag}' SECOND"))
        & (F.col("ts_r") <= F.col("ts")),
        "inner",
    )
    want = Counter(
        (r["conv_id"], r["turn_idx"], r["ts_r"], r["signal_r"])
        for r in batch.collect()
    )
    assert want  # fixture must actually produce matches

    with tempfile.TemporaryDirectory() as d:
        left.write.parquet(f"{d}/l")
        right.write.parquet(f"{d}/r")
        ls = spark.readStream.schema(spark.read.parquet(f"{d}/l").schema).parquet(
            f"{d}/l"
        )
        rs = spark.readStream.schema(spark.read.parquet(f"{d}/r").schema).parquet(
            f"{d}/r"
        )
        joined = streaming_interval_join(
            ls, rs, on="ts", by="conv_id", max_lag_seconds=lag, watermark="1 hour"
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("sj_out")
            .start()
        )
        try:
            q.processAllAvailable()
            got = Counter(
                (r["conv_id"], r["turn_idx"], r["ts_r"], r["signal_r"])
                for r in spark.sql("SELECT * FROM sj_out").collect()
            )
        finally:
            q.stop()
    assert got == want


def test_streaming_asof_enrich_matches_batch_asof(spark, transcripts):
    """The interval-join enrichment must equal the batch as-of join
    row-for-row (backward, allow-exact-match semantics)."""
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.asof import asof_join
    from acoustic_feature_extractor_spark.streaming.enrich import (
        intervalize_dimension,
        streaming_asof_enrich,
    )

    left = transcripts.limit(800).select("conv_id", "turn_idx", "ts")
    # dimension: every 5th turn publishes a state row
    dim = (
        transcripts.where(F.col("turn_idx") % 5 == 0)
        .select("conv_id", "ts", F.col("tool").alias("state"))
        .where(F.col("ts").isNotNull())
    )
    batch = asof_join(left, dim, on="ts", by="conv_id", right_cols=["state"], suffix="_dim")
    want = {
        (r["conv_id"], r["turn_idx"]): r["state_dim"]
        for r in batch.collect()
    }

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        left.write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        enriched = streaming_asof_enrich(
            stream, intervalize_dimension(dim), on="ts", by="conv_id"
        )
        q = (
            enriched.writeStream.outputMode("append")
            .format("memory")
            .queryName("enrich_out")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["conv_id"], r["turn_idx"]): r["state_dim"]
                for r in spark.sql("SELECT * FROM enrich_out").collect()
            }
        finally:
            q.stop()
    assert got == want


def test_streaming_sketch_rollups_merge_with_batch(spark):
    """Stream-landed sketch rollups must be BIT-IDENTICAL inputs to the
    batch cascade: hist_coarser/distinct_coarser over the streamed hourly
    table equals computing the day sketch directly over the raw events —
    the lambda-architecture closure (only the stream touches raw data)."""
    import pyspark.sql.functions as F

    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_coarser,
        hist_rollup,
        with_estimate,
    )
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_distinct_rollup,
        streaming_hist_rollup,
    )

    events = spark.range(20_000).selectExpr(
        "id % 3 AS user_id",
        "timestamp_micros(CAST(1704067200000000 + id * 8000000 AS BIGINT)) AS ts",
        "CAST(pmod(xxhash64(id), 1000) AS DOUBLE) / 10.0 AS value",
        "pmod(xxhash64(id, 3), 500) AS visitor",  # HLL input (int/long/str only)
    ).cache()
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        events.write.parquet(src)
        schema = spark.read.parquet(src).schema

        stream = spark.readStream.schema(schema).parquet(src)
        hq = (
            streaming_hist_rollup(stream, 3600.0, lo=0.0, hi=100.0, bins=32)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("hist_stream")
            .start()
        )
        stream2 = spark.readStream.schema(schema).parquet(src)
        dq = (
            streaming_distinct_rollup(stream2, 3600.0, value_col="visitor")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("hll_stream")
            .start()
        )
        try:
            hq.processAllAvailable()
            dq.processAllAvailable()
            landed_h = spark.table("hist_stream").cache()
            landed_d = spark.table("hll_stream").cache()
            landed_h.count(), landed_d.count()
        finally:
            hq.stop()
            dq.stop()

        # histogram: batch cascade over the stream's table == direct day sketch
        day_m = hist_coarser(landed_h, 86400.0, "user_id", fine_seconds=3600.0)
        day_d = hist_rollup(
            events, 86400.0, "user_id", "value", lo=0.0, hi=100.0, bins=32
        )
        a = {
            (r["user_id"], r["bucket"]): (r["n"], tuple(r["hist"]))
            for r in day_m.collect()
        }
        b = {
            (r["user_id"], r["bucket"]): (r["n"], tuple(r["hist"]))
            for r in day_d.collect()
        }
        # streaming buckets are timestamps; batch time_bucket emits
        # timestamps too — keys must line up exactly
        assert a == b and len(a) >= 3

        # HLL: union of streamed hourly sketches lands within the sketch's
        # accuracy bound of the EXACT day distinct (bit-equality with a
        # direct day sketch is not guaranteed once sketches leave sparse
        # mode — hourly unions and one-shot builds may transition modes
        # at different points; the estimate contract is what holds)
        from acoustic_feature_extractor_spark.operators.rollup import time_bucket
        from acoustic_feature_extractor_spark.operators.sketches import (
            distinct_coarser,
        )

        est_m = with_estimate(
            distinct_coarser(landed_d, 86400.0, "user_id", fine_seconds=3600.0)
        )
        exact = (
            events.withColumn("bucket", time_bucket("ts", 86400.0))
            .groupBy("user_id", "bucket")
            .agg(F.count_distinct("visitor").alias("exact"))
        )
        rows = est_m.join(exact, ["user_id", "bucket"]).collect()
        assert len(rows) >= 3
        for r in rows:
            assert abs(r["distinct_est"] - r["exact"]) <= max(2, 0.03 * r["exact"])


def test_streaming_trailing_context_matches_batch(spark, transcripts):
    """Streaming context-window assembly over TWO sequential file drops
    equals the batch trailing_context over the full table — with state
    bounded by the token budget, not the conversation length."""
    import pyspark.sql.functions as F

    from acoustic_feature_extractor_spark.operators.context import trailing_context
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_trailing_context,
    )

    budget = 40
    t = (
        transcripts.limit(1500)
        .select(
            "conv_id",
            "turn_idx",
            (F.length("text") % 17 + 1).cast("long").alias("n_tokens"),
        )
        .cache()
    )
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        t.where(F.col("turn_idx") < 5).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_trailing_context(stream, budget=budget)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("ctx_out")
            .start()
        )
        try:
            q.processAllAvailable()
            t.where(F.col("turn_idx") >= 5).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = (
                spark.sql("SELECT * FROM ctx_out")
                .orderBy("conv_id", "turn_idx")
                .toPandas()
            )
        finally:
            q.stop()
    exp = (
        trailing_context(t, "conv_id", ("turn_idx",), "n_tokens", budget)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "ctx_turns", "ctx_tokens", "ctx_truncated")
        .toPandas()
    )
    assert len(got) == len(exp)
    for c in ("ctx_turns", "ctx_tokens", "ctx_truncated"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c


def test_streaming_trailing_context_state_bounded(spark):
    """GroupState stays <= budget entries even for a conversation far
    longer than the budget (weights >= 1 ⇒ bounded retained window)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_trailing_context,
    )

    budget = 16
    n = 500  # single mega-conversation, way past the budget
    rows = [("mega", i, 1) for i in range(n)]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, n_tokens long")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        t.where(F.col("turn_idx") < 250).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_trailing_context(stream, budget=budget)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("ctx_bound")
            .start()
        )
        try:
            q.processAllAvailable()
            t.where(F.col("turn_idx") >= 250).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = spark.sql(
                "SELECT * FROM ctx_bound ORDER BY turn_idx"
            ).toPandas()
        finally:
            q.stop()
    # unit weights: include prior turn j iff the suffix j+1..t fits the
    # budget (turn j's own token is not charged) — exactly `budget` prior
    # turns once the conversation is longer than that, all truncated
    tail = got[got["turn_idx"] > budget]
    assert (tail["ctx_turns"] == budget).all()
    assert (tail["ctx_tokens"] == budget).all()
    assert tail["ctx_truncated"].all()


def test_streaming_conv_fingerprint_matches_batch(spark, transcripts):
    """Running conversation fingerprints on a stream equal the batch
    sequence_fingerprint over the full table — the commutative-sum design
    makes the op a plain streaming aggregation (two longs of state)."""
    import pyspark.sql.functions as F

    from acoustic_feature_extractor_spark.operators.context import (
        sequence_fingerprint,
    )
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_conv_fingerprint,
    )

    t = transcripts.limit(1500).select("conv_id", "turn_idx", "text").cache()
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        t.where(F.col("turn_idx") < 5).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_conv_fingerprint(stream)
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName("fp_out")
            .start()
        )
        try:
            q.processAllAvailable()
            t.where(F.col("turn_idx") >= 5).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM fp_out").toPandas()
        finally:
            q.stop()
    exp = sequence_fingerprint(t).toPandas()
    m = got.merge(exp, on="conv_id", suffixes=("_s", "_b"))
    assert len(m) == len(exp)
    assert (m["conv_fp_s"] == m["conv_fp_b"]).all()


def test_streaming_cusum_matches_batch(spark):
    """Streaming CUSUM with GroupState carry across micro-batches equals
    the batch ``temporal.cusum_scores`` on the same (ordered) input."""
    import tempfile

    from acoustic_feature_extractor_spark.operators.temporal import cusum_scores
    from acoustic_feature_extractor_spark.streaming.sessions import streaming_cusum

    rows = spark.range(600).selectExpr(
        "CAST(id % 3 AS STRING) AS conv_id",
        "timestamp_micros(CAST(1704067200000000 + id * 1000000 AS BIGINT)) AS ts",
        # entity 0 drifts upward after the 70th of its 200 events
        "CAST(pmod(xxhash64(id), 100) AS DOUBLE) / 100.0"
        " + CASE WHEN id % 3 = 0 AND id >= 210 THEN 2.0 ELSE 0.0 END AS value",
    ).cache()
    ref = rows.where("id < 150")  # used only to freeze (mu, sigma)
    stats = ref.selectExpr("avg(value) mu", "sqrt(var_pop(value)) sg").collect()[0]

    batch = cusum_scores(
        rows, by="conv_id", order="ts", value_col="value", ref=ref, k=0.5, h=5.0
    )
    exp = {
        (r["conv_id"], r["ts"]): (r["s_pos"], r["s_neg"], r["alarm"])
        for r in batch.collect()
    }

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        # three files in event-time order -> three sequential micro-batches
        for lo, hi, part in ((0, 200, "a"), (200, 400, "b"), (400, 600, "c")):
            rows.where(f"id >= {lo} AND id < {hi}").coalesce(1).write.mode(
                "append"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_cusum(
                stream, mu=stats["mu"], sigma=stats["sg"], k=0.5, h=5.0
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("cusum_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["conv_id"], r["ts"]): (r["s_pos"], r["s_neg"], r["alarm"])
                for r in spark.table("cusum_stream").collect()
            }
        finally:
            q.stop()

    assert len(got) == len(exp) == 600
    for key in exp:
        ge, ee = got[key], exp[key]
        assert abs(ge[0] - ee[0]) < 1e-9 and abs(ge[1] - ee[1]) < 1e-9, key
        assert ge[2] == ee[2]
    # the drifted entity actually alarms in the stream
    assert any(a for (c, _), (_, _, a) in got.items() if c == "0")
    assert not any(a for (c, _), (_, _, a) in got.items() if c == "1")


def test_streaming_seasonal_baseline_matches_batch(spark):
    """Streaming seasonal baseline with (entity, slot) GroupState carry
    equals the batch ``temporal.seasonal_baseline`` on the same input,
    across three sequential micro-batches."""
    import tempfile

    from acoustic_feature_extractor_spark.operators.temporal import (
        seasonal_baseline,
    )
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_seasonal_baseline,
    )

    # 2 entities x 300 events, ~37-minute stride so slots recur across
    # days and batches; unique ts per entity
    rows = spark.range(600).selectExpr(
        "CAST(id % 2 AS STRING) AS conv_id",
        "timestamp_micros(CAST(1704067200000000 + (id DIV 2) * 2215000000"
        " + (id % 2) * 1000000 AS BIGINT)) AS ts",
        "CAST(pmod(xxhash64(id), 97) AS DOUBLE) AS value",
    ).cache()

    batch = seasonal_baseline(
        rows.selectExpr("conv_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value"),
        by="conv_id", ts_col="ts", value_col="value",
    )
    exp = {
        (r["conv_id"], str(r["ts"])): (
            r["slot"], r["n_slot_past"], r["seasonal_mean"]
        )
        for r in batch.collect()
    }

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        for lo, hi in ((0, 200), (200, 400), (400, 600)):
            rows.where(f"id >= {lo} AND id < {hi}").coalesce(1).write.mode(
                "append"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_seasonal_baseline(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("seasonal_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["conv_id"], str(r["ts"])): (
                    r["slot"], r["n_slot_past"], r["seasonal_mean"]
                )
                for r in spark.table("seasonal_stream").collect()
            }
        finally:
            q.stop()

    assert len(got) == len(exp) == 600
    for k in exp:
        gs, gn, gm = got[k]
        es, en, em = exp[k]
        assert gs == es and gn == en, k
        if em is None:
            assert gm is None, k
        else:
            assert abs(gm - em) < 1e-9, k


def test_streaming_time_since_event_matches_batch(spark):
    """Streaming recency (two longs of GroupState per entity) equals the
    batch ``temporal.time_since_event`` on the same input across three
    in-order micro-batches — including exact-timestamp ties, which must
    be invisible to each other in BOTH engines."""
    import tempfile

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.temporal import (
        time_since_event,
    )
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_time_since_event,
    )

    # 2 entities x 300 events; every 10th pair shares a timestamp (tie);
    # mark ~ every 7th event
    rows = spark.range(600).selectExpr(
        "CAST(id % 2 AS STRING) AS conv_id",
        "timestamp_micros(CAST(1704067200000000 + (id DIV 2) * 37000000"
        " + CASE WHEN (id DIV 2) % 10 = 9 THEN -37000000 ELSE 0 END"
        " + (id % 2) * 1000000 AS BIGINT)) AS ts",
        "pmod(xxhash64(id), 7) = 0 AS is_mark",
    ).cache()

    batch = time_since_event(
        rows.selectExpr("conv_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "is_mark"),
        F.col("is_mark"),
        key="conv_id",
        ts_col="ts",
        out_col="since_s",
    )
    exp = {
        (r["conv_id"], str(r["ts"]), bool(r["is_mark"])): r["since_s"]
        for r in batch.collect()
    }

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        for lo, hi in ((0, 200), (200, 400), (400, 600)):
            rows.where(f"id >= {lo} AND id < {hi}").coalesce(1).write.mode(
                "append"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_time_since_event(stream, "is_mark")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("since_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["conv_id"], str(r["ts"]), bool(r["is_mark"])): r["since_s"]
                for r in spark.table("since_stream").collect()
            }
        finally:
            q.stop()
    assert set(got) == set(exp)
    for k in exp:
        a, b = exp[k], got[k]
        if a is None:
            assert b is None, (k, b)
        else:
            assert b == pytest.approx(a), (k, a, b)


def test_streaming_time_since_event_cross_batch_tie_and_null_ts(spark):
    """The two review-found failure modes, pinned: (a) a row in batch N+1
    whose timestamp EQUALS a mark carried from batch N must NOT see that
    mark (strict past — the state's second slot supplies the older mark,
    exactly like the batch RANGE frame); (b) NULL timestamps emit NULL
    and never poison the state."""
    import datetime as dt
    import tempfile

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.temporal import (
        time_since_event,
    )
    from acoustic_feature_extractor_spark.streaming.sessions import (
        streaming_time_since_event,
    )

    T0 = 1704067200  # 2024-01-01 00:00:00
    rows1 = [  # drop 1
        ("a", T0 + 100, True),   # older mark -> the strict-past answer
        ("a", T0 + 500, True),   # newest mark, tied by a drop-2 row
        ("a", T0 + 500, False),  # in-batch tie-mate (already covered)
        ("b", None, True),       # NULL ts mark: must not enter state
        ("b", T0 + 10, False),
    ]
    rows2 = [  # drop 2
        ("a", T0 + 500, False),  # CROSS-BATCH tie with the carried mark
        ("a", T0 + 600, False),  # past the tie: sees the newest mark
        ("b", None, False),      # NULL ts row: NULL out
        ("b", T0 + 20, False),   # still no real mark for b -> NULL
    ]

    def df_of(rows):
        return spark.createDataFrame(
            [(c, None if t is None else dt.datetime.utcfromtimestamp(t), m)
             for c, t, m in rows],
            "conv_id string, ts timestamp, is_mark boolean",
        )

    full = df_of(rows1 + rows2)
    batch = time_since_event(
        full, F.col("is_mark"), key="conv_id", ts_col="ts", out_col="since_s"
    )

    def canon(rs):
        # MULTISET of full rows — the two tie rows are identical on every
        # key column, so a dict would let one silently overwrite the
        # other and a regressed tie value could hide behind collect order
        return sorted(
            (r["conv_id"], str(r["ts"]), bool(r["is_mark"]),
             None if r["since_s"] is None else round(r["since_s"], 6))
            for r in rs
        )

    exp = canon(batch.collect())

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        df_of(rows1).coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_time_since_event(stream, "is_mark")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("since_tie_stream")
            .start()
        )
        try:
            q.processAllAvailable()
            df_of(rows2).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = canon(spark.table("since_tie_stream").collect())
        finally:
            q.stop()

    assert got == exp
    # the tie rows specifically: strict past = the OLDER mark for BOTH
    # the in-batch tie-mate and the cross-batch one (multiset: two rows)
    tie_rows = [r for r in exp
                if r[0] == "a" and r[1] == str(dt.datetime.utcfromtimestamp(T0 + 500))
                and r[2] is False]
    assert [r[3] for r in tie_rows] == [400.0, 400.0]
