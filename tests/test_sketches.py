"""HLL distinct-count rollups: estimate accuracy, lossless-union cascade,
binary-at-rest merge (write sketches, merge in a 'later job')."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.sketches import (
    distinct_coarser,
    distinct_rollup,
    with_estimate,
)

BASE = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def events(spark):
    # 3 entities x 48 hours; user ids overlap across hours so the day
    # distinct is NOT the sum of hour distincts (the case that breaks
    # count-cascades and exactly what sketch union must collapse)
    rows = []
    for g in ("a", "b", "c"):
        for h in range(48):
            for u in range(0, 40, 2 if h % 2 else 1):
                rows.append((g, BASE + dt.timedelta(hours=h, minutes=u % 60), u + (h % 3) * 40))
    return spark.createDataFrame(rows, "g string, ts timestamp, user_id bigint").cache()


def _exact(events, width):
    from acoustic_feature_extractor_spark.operators.rollup import time_bucket

    return (
        events.withColumn("bucket", time_bucket("ts", width))
        .groupBy("g", "bucket")
        .agg(F.count_distinct("user_id").alias("exact"))
    )


def test_hourly_estimates_close(spark, events):
    est = with_estimate(distinct_rollup(events, 3600.0, "g", "user_id"))
    j = est.join(_exact(events, 3600.0), ["g", "bucket"]).collect()
    assert len(j) == 3 * 48
    for r in j:
        assert abs(r["distinct_est"] - r["exact"]) <= max(1, 0.02 * r["exact"])


def test_cascade_equals_direct_sketch(spark, events):
    """Merging hourly sketches to a day gives the SAME estimate as
    sketching the day directly — HLL union is lossless, the property that
    makes sketches-at-rest answer coarser grains without the fact table."""
    fine = distinct_rollup(events, 3600.0, "g", "user_id")
    day_m = with_estimate(distinct_coarser(fine, 86400.0, "g", fine_seconds=3600.0))
    day_d = with_estimate(distinct_rollup(events, 86400.0, "g", "user_id"))
    merged = {(r["g"], r["bucket"]): (r["distinct_est"], r["n"]) for r in day_m.collect()}
    direct = {(r["g"], r["bucket"]): (r["distinct_est"], r["n"]) for r in day_d.collect()}
    assert merged == direct
    # and the day distinct is far below the sum of hour distincts
    hours = fine.count()
    assert hours == 3 * 48 and len(merged) == 3 * 2


def test_sketches_survive_parquet(spark, events, tmp_path):
    """Binary sketches written to parquet merge correctly in a later job."""
    p = str(tmp_path / "rollup")
    distinct_rollup(events, 3600.0, "g", "user_id").write.parquet(p)
    reread = spark.read.parquet(p)
    day = with_estimate(distinct_coarser(reread, 86400.0, "g", fine_seconds=3600.0))
    exact = _exact(events, 86400.0)
    for r in day.join(exact, ["g", "bucket"]).collect():
        assert abs(r["distinct_est"] - r["exact"]) <= max(1, 0.02 * r["exact"])


def test_width_guard(spark, events):
    fine = distinct_rollup(events, 3600.0, "g", "user_id")
    with pytest.raises(ValueError, match="multiple"):
        distinct_coarser(fine, 5000.0, "g", fine_seconds=3600.0)


# ---------------------------------------------------------------------------
# fixed-range histogram sketches: mergeable quantiles
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def values(spark):
    # 4 entities x 48 hours, value in [0, 100) with entity-specific shape
    return spark.range(40_000).selectExpr(
        "id % 4 AS g",
        "timestamp_micros(CAST(1704067200000000 + id * 4000000 AS BIGINT)) AS ts",
        "CAST(pmod(xxhash64(id, CAST(id % 4 AS INT)), 10000) AS DOUBLE) / 100.0 AS value",
    ).cache()


def _hist_ops():
    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_coarser,
        hist_quantiles,
        hist_rollup,
    )

    return hist_rollup, hist_coarser, hist_quantiles


def test_hist_cascade_equals_direct(spark, values):
    """Merged hourly histograms are BIT-IDENTICAL to sketching the day
    directly — the lossless-merge property that lets quantiles cascade
    without the fact table."""
    hist_rollup, hist_coarser, _ = _hist_ops()
    fine = hist_rollup(values, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=64)
    day_m = hist_coarser(fine, 86400.0, "g", fine_seconds=3600.0)
    day_d = hist_rollup(values, 86400.0, "g", "value", lo=0.0, hi=100.0, bins=64)
    merged = {(r["g"], r["bucket"]): (r["n"], tuple(r["hist"])) for r in day_m.collect()}
    direct = {(r["g"], r["bucket"]): (r["n"], tuple(r["hist"])) for r in day_d.collect()}
    assert merged == direct


def test_hist_quantile_error_bound(spark, values):
    """Every estimated quantile sits within one bin width of the exact
    percentile, for every group x day x q — the sketch's contract."""
    hist_rollup, hist_coarser, hist_quantiles = _hist_ops()
    fine = hist_rollup(values, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=64)
    day = hist_coarser(fine, 86400.0, "g", fine_seconds=3600.0)
    est = hist_quantiles(day, [0.5, 0.9, 0.99], lo=0.0, hi=100.0, bins=64)
    from acoustic_feature_extractor_spark.operators.rollup import time_bucket

    exact = (
        values.withColumn("bucket", time_bucket("ts", 86400.0))
        .groupBy("g", "bucket")
        .agg(
            F.expr("percentile(value, 0.5)").alias("e5"),
            F.expr("percentile(value, 0.9)").alias("e9"),
            F.expr("percentile(value, 0.99)").alias("e99"),
        )
    )
    w = 100.0 / 64
    rows = est.join(exact, ["g", "bucket"]).collect()
    assert len(rows) >= 8
    for r in rows:
        assert abs(r["q5"] - r["e5"]) <= w + 1e-9
        assert abs(r["q9"] - r["e9"]) <= w + 1e-9
        assert abs(r["q99"] - r["e99"]) <= w + 1e-9


def test_hist_clamps_out_of_domain(spark):
    hist_rollup, _, hist_quantiles = _hist_ops()
    df = spark.createDataFrame(
        [(1, -50.0), (1, 5.0), (1, 5.0), (1, 250.0)], "g bigint, value double"
    ).withColumn("ts", F.expr("timestamp '2024-01-01'"))
    h = hist_rollup(df, 3600.0, "g", "value", lo=0.0, hi=10.0, bins=10)
    row = h.collect()[0]
    assert row["n"] == 4
    assert row["hist"][0] == 1 and row["hist"][5] == 2 and row["hist"][9] == 1
    # clamped mass still counts toward ranks
    q = hist_quantiles(h, [0.5], lo=0.0, hi=10.0, bins=10).collect()[0]
    assert 5.0 <= q["q5"] <= 6.0


def test_hist_survives_parquet(spark, values, tmp_path):
    hist_rollup, hist_coarser, _ = _hist_ops()
    p = str(tmp_path / "hist")
    hist_rollup(values, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=32).write.parquet(p)
    day = hist_coarser(spark.read.parquet(p), 86400.0, "g", fine_seconds=3600.0)
    direct = hist_rollup(values, 86400.0, "g", "value", lo=0.0, hi=100.0, bins=32)
    a = {(r["g"], r["bucket"]): tuple(r["hist"]) for r in day.collect()}
    b = {(r["g"], r["bucket"]): tuple(r["hist"]) for r in direct.collect()}
    assert a == b


def test_hist_validation(spark, values):
    hist_rollup, hist_coarser, hist_quantiles = _hist_ops()
    with pytest.raises(ValueError, match="hi > lo"):
        hist_rollup(values, 3600.0, "g", "value", lo=5.0, hi=5.0)
    fine = hist_rollup(values, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=8)
    with pytest.raises(ValueError, match="multiple"):
        hist_coarser(fine, 5000.0, "g", fine_seconds=3600.0)
    with pytest.raises(ValueError, match="outside"):
        hist_quantiles(fine, [1.5], lo=0.0, hi=100.0, bins=8)


def test_hist_apply_changes_equals_recompute(spark):
    """Incremental histogram maintenance ≡ full recompute — including
    DELETES folded arithmetically (histograms are retractable; no fact
    access), updates, inserts into new groups, and a fully-deleted group
    vanishing."""
    import pandas as pd

    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_apply_changes,
        hist_rollup,
    )

    base = spark.range(5_000).selectExpr(
        "id % 3 AS g",
        "timestamp_micros(CAST(1704067200000000 + id * 60000000 AS BIGINT)) AS ts",
        "CAST(pmod(xxhash64(id), 100) AS DOUBLE) AS value",
    ).cache()
    old = hist_rollup(base, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=16)
    # deletes: all of g=0's first hour (group vanishes) + half of g=1's
    # second hour (update-like, reinserted shifted); inserts: new group g=7
    d1 = base.where("g = 0 AND id < 180")
    d2 = base.where("g = 1 AND id >= 180 AND id < 300 AND id % 2 = 1")
    reins = d2.withColumn("value", F.col("value") + 3.0)
    t0 = pd.Timestamp("2024-01-01")
    newg = spark.createDataFrame(
        pd.DataFrame(
            [(7, t0 + pd.Timedelta(hours=2), 55.0), (7, t0 + pd.Timedelta(hours=2, minutes=5), 155.0)],
            columns=["g", "ts", "value"],
        )
    )
    cols = ["g", "ts", "value"]
    deletes = d1.select(*cols).unionByName(d2.select(*cols))
    inserts = reins.select(*cols).unionByName(newg)
    changes = deletes.withColumn("_change_type", F.lit("delete")).unionByName(
        inserts.withColumn("_change_type", F.lit("insert"))
    )
    final = base.exceptAll(deletes).unionByName(inserts)
    got = hist_apply_changes(
        old, changes, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=16
    )
    exp = hist_rollup(final, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=16)
    a = {(r["g"], r["bucket"]): (r["n"], tuple(r["hist"])) for r in got.collect()}
    b = {(r["g"], r["bucket"]): (r["n"], tuple(r["hist"])) for r in exp.collect()}
    assert a == b
    # g=0's first three hours (fully deleted) vanish; the new g=7 appears
    olds = {(r["g"], r["bucket"]) for r in old.collect()}
    gone = olds - set(a)
    assert len(gone) == 3 and all(g == 0 for g, _ in gone)
    assert any(g == 7 for g, _ in a)


# ---------------------------------------------------------------------------
# Misra-Gries frequency sketches (topk_rollup / topk_coarser / topk_finalize)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def item_events(spark):
    # 2 entities x 6 hours; zipf-ish item stream (item j appears ~60/(j+1)
    # times per hour) so there ARE heavy hitters and a long tail
    rows = []
    for g in ("x", "y"):
        for h in range(6):
            for j in range(12):
                reps = max(1, 60 // (j + 1) - (h % 3))
                for r in range(reps):
                    rows.append(
                        (g, BASE + dt.timedelta(hours=h, seconds=r), f"i{j:02d}")
                    )
    return spark.createDataFrame(rows, "g string, ts timestamp, item string").cache()


def _exact_counts(events, width):
    from acoustic_feature_extractor_spark.operators.rollup import time_bucket

    return {
        (r["g"], r["bucket"], r["item"]): r["c"]
        for r in (
            events.withColumn("bucket", time_bucket("ts", width))
            .groupBy("g", "bucket", "item")
            .agg(F.count(F.lit(1)).alias("c"))
        ).collect()
    }


def test_topk_exact_when_capacity_fits(spark, item_events):
    from acoustic_feature_extractor_spark.operators.sketches import (
        topk_finalize,
        topk_rollup,
    )

    fine = topk_rollup(item_events, 3600.0, "g", "item", capacity=16)
    assert {r["err"] for r in fine.select("err").distinct().collect()} == {0}
    rows = topk_finalize(fine, k=3, by="g").collect()
    exact = _exact_counts(item_events, 3600.0)
    for r in rows:
        assert r["cnt_lb"] == r["cnt_ub"] == exact[(r["g"], r["bucket"], r["item"])]
    # rank 1 is the true argmax with deterministic ties
    by_gb = {}
    for (g, b, i), c in exact.items():
        by_gb.setdefault((g, b), []).append((-c, i))
    for r in rows:
        if r["rank"] == 1:
            assert r["item"] == min(by_gb[(r["g"], r["bucket"])])[1]


def test_topk_bounds_under_capacity_pressure(spark, item_events):
    from acoustic_feature_extractor_spark.operators.sketches import (
        topk_finalize,
        topk_rollup,
    )

    fine = topk_rollup(item_events, 3600.0, "g", "item", capacity=4)
    exact = _exact_counts(item_events, 3600.0)
    n_per = {}
    for (g, b, _), c in exact.items():
        n_per[(g, b)] = n_per.get((g, b), 0) + c
    summaries = fine.collect()
    for s in summaries:
        key = (s["g"], s["bucket"])
        # classic MG bound: err <= n / (capacity + 1)
        assert s["err"] <= n_per[key] / 5
        present = {it["item"] for it in s["items"]}
        for (g, b, i), c in exact.items():
            if (g, b) != key:
                continue
            if i in present:
                stored = next(it["cnt"] for it in s["items"] if it["item"] == i)
                assert stored <= c <= stored + s["err"]
            else:
                # absent items are bounded by the error mass
                assert c <= s["err"]
        # guaranteed presence of true heavy hitters
        for (g, b, i), c in exact.items():
            if (g, b) == key and c > s["err"]:
                assert i in present
    rows = topk_finalize(fine, k=2, by="g").collect()
    for r in rows:
        c = exact[(r["g"], r["bucket"], r["item"])]
        assert r["cnt_lb"] <= c <= r["cnt_ub"]


def test_topk_cascade_merge_bounds(spark, item_events):
    from acoustic_feature_extractor_spark.operators.sketches import (
        topk_coarser,
        topk_rollup,
    )

    fine = topk_rollup(item_events, 3600.0, "g", "item", capacity=5)
    day = topk_coarser(fine, 6 * 3600.0, "g", capacity=5, fine_seconds=3600.0)
    exact = _exact_counts(item_events, 6 * 3600.0)
    n_per = {}
    for (g, b, _), c in exact.items():
        n_per[(g, b)] = n_per.get((g, b), 0) + c
    for s in day.collect():
        key = (s["g"], s["bucket"])
        assert s["n"] == n_per[key]
        present = {it["item"]: it["cnt"] for it in s["items"]}
        assert len(present) <= 5
        for (g, b, i), c in exact.items():
            if (g, b) != key:
                continue
            if i in present:
                assert present[i] <= c <= present[i] + s["err"]
            else:
                assert c <= s["err"]
            if c > s["err"]:
                assert i in present


def test_topk_cascade_exact_when_roomy(spark, item_events):
    # capacity >= distinct everywhere -> the cascade is lossless end to end
    from acoustic_feature_extractor_spark.operators.sketches import (
        topk_coarser,
        topk_finalize,
        topk_rollup,
    )

    fine = topk_rollup(item_events, 3600.0, "g", "item", capacity=16)
    day = topk_coarser(fine, 6 * 3600.0, "g", capacity=16, fine_seconds=3600.0)
    rows = topk_finalize(day, k=12, by="g").collect()
    exact = _exact_counts(item_events, 6 * 3600.0)
    assert len(rows) == len(exact)
    for r in rows:
        assert r["cnt_lb"] == r["cnt_ub"] == exact[(r["g"], r["bucket"], r["item"])]


# ---------------------------------------------------------------------------
# PSI from histogram sketches
# ---------------------------------------------------------------------------


def test_psi_from_hists_matches_direct(spark):
    import math

    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_rollup,
        psi_from_hists,
    )

    rows_r = [("g", BASE, float(v % 40)) for v in range(200)]
    rows_c = [("g", BASE, float((v % 40) + 15)) for v in range(300)]  # shifted
    ref = spark.createDataFrame(rows_r, "g string, ts timestamp, v double")
    cur = spark.createDataFrame(rows_c, "g string, ts timestamp, v double")
    hr = hist_rollup(ref, 1e9, "g", "v", lo=0.0, hi=64.0, bins=8).drop("bucket", "n")
    hc = hist_rollup(cur, 1e9, "g", "v", lo=0.0, hi=64.0, bins=8).drop("bucket", "n")
    got = {r["bin"]: r for r in psi_from_hists(hr, hc, by="g", bins=8).collect()}
    assert set(got) == set(range(1, 9))

    # direct python PSI on the same fixed bins
    def hist(vals):
        h = [0] * 8
        for v in vals:
            h[min(max(int(v // 8.0), 0), 7)] += 1
        return h

    H_r = hist([float(v % 40) for v in range(200)])
    H_c = hist([float((v % 40) + 15) for v in range(300)])
    eps = 1e-6
    psi_direct = 0.0
    for i in range(8):
        p = (H_r[i] + eps) / (200 + 8 * eps)
        q = (H_c[i] + eps) / (300 + 8 * eps)
        psi_direct += (p - q) * math.log(p / q)
        r = got[i + 1]
        assert r["n_ref"] == H_r[i] and r["n_cur"] == H_c[i]
        assert abs(r["p"] - p) < 1e-12 and abs(r["q"] - q) < 1e-12
    psi_spark = sum(r["psi_term"] for r in got.values())
    assert abs(psi_spark - psi_direct) < 1e-9
    assert psi_spark > 0.25  # the injected shift reads as real drift


def test_psi_from_hists_one_sided_group_and_width_guard(spark):
    import pytest as _pytest

    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_rollup,
        psi_from_hists,
    )

    ref = spark.createDataFrame(
        [("a", BASE, 1.0), ("b", BASE, 2.0)], "g string, ts timestamp, v double"
    )
    cur = spark.createDataFrame([("a", BASE, 1.0)], "g string, ts timestamp, v double")
    hr = hist_rollup(ref, 1e9, "g", "v", lo=0.0, hi=4.0, bins=4).drop("bucket", "n")
    hc = hist_rollup(cur, 1e9, "g", "v", lo=0.0, hi=4.0, bins=4).drop("bucket", "n")
    rows = psi_from_hists(hr, hc, by="g", bins=4).collect()
    # group 'b' exists only in ref: its current side reads all-zero
    b_rows = [r for r in rows if r["g"] == "b"]
    assert len(b_rows) == 4 and all(r["n_cur"] == 0 for r in b_rows)
    with _pytest.raises(Exception, match="hist width"):
        psi_from_hists(hr, hc, by="g", bins=8).collect()


def test_freq_apply_changes_folds_exactly(spark, item_events):
    from acoustic_feature_extractor_spark.operators.sketches import (
        freq_apply_changes,
        freq_rollup,
        topk_compress,
        topk_rollup,
    )

    base = item_events.where("g != 'x' OR item != 'i00' OR ts >= timestamp'2024-01-01 03:00:00'")
    old = freq_rollup(base, 3600.0, "g", "item")
    # change set: delete all of x/i01 in hour 0, insert 5 new rows of a
    # brand-new item in hour 1 for y, and re-insert 2 rows of x/i00 hour 0
    deletes = item_events.where(
        "g = 'x' AND item = 'i01' AND ts < timestamp'2024-01-01 01:00:00'"
    ).withColumn("_change_type", F.lit("delete"))
    ins_rows = [
        ("y", BASE + dt.timedelta(hours=1, seconds=s), "iZZ") for s in range(5)
    ] + [("x", BASE + dt.timedelta(seconds=s), "i00") for s in range(2)]
    inserts = spark.createDataFrame(
        ins_rows, "g string, ts timestamp, item string"
    ).withColumn("_change_type", F.lit("insert"))
    changes = deletes.unionByName(inserts)
    got = freq_apply_changes(old, changes, 3600.0, "g", "item")

    final = base.exceptAll(deletes.drop("_change_type")).unionByName(
        inserts.drop("_change_type")
    )
    exp = freq_rollup(final, 3600.0, "g", "item")
    a = {(r["g"], r["bucket"], r["item"]): r["cnt"] for r in got.collect()}
    b = {(r["g"], r["bucket"], r["item"]): r["cnt"] for r in exp.collect()}
    assert a == b
    # fully-deleted item vanished
    assert not any(g == "x" and i == "i01" and bkt.hour == 0 for g, bkt, i in a)
    # re-published summaries equal the direct rollup of the final state
    s_inc = topk_compress(got, "g", capacity=16)
    s_dir = topk_rollup(final, 3600.0, "g", "item", capacity=16)
    ka = {
        (r["g"], r["bucket"]): (r["n"], r["err"], tuple((i["item"], i["cnt"]) for i in r["items"]))
        for r in s_inc.collect()
    }
    kb = {
        (r["g"], r["bucket"]): (r["n"], r["err"], tuple((i["item"], i["cnt"]) for i in r["items"]))
        for r in s_dir.collect()
    }
    assert ka == kb


def test_topk_coarser_carries_empty_child_summaries(spark):
    """A child summary whose compress evicted EVERYTHING (all-equal
    counters -> empty items, err > 0) must still contribute its (n, err)
    mass to the coarse group — dropping it would fake a tighter bound."""
    from pyspark.sql import types as T

    from acoustic_feature_extractor_spark.operators.sketches import topk_coarser

    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("bucket", T.TimestampNTZType()),
            T.StructField("n", T.LongType()),
            T.StructField("err", T.LongType()),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("item", T.StringType()),
                            T.StructField("cnt", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    fine = spark.createDataFrame(
        [
            ("g", BASE, 10, 0, [("a", 7), ("b", 3)]),
            # all-equal child: every counter was evicted at compress
            ("g", BASE + dt.timedelta(hours=1), 3, 3, []),
        ],
        schema,
    )
    day = topk_coarser(fine, 86400.0, "g", capacity=4, fine_seconds=3600.0)
    rows = day.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n"] == 13  # the empty child's rows still count
    assert r["err"] == 3  # and its error mass still bounds absent items
    assert {(i["item"], i["cnt"]) for i in r["items"]} == {("a", 7), ("b", 3)}


def test_ks_from_hists_matches_brute_force(spark):
    """KS from sketches equals the brute-force binned two-sample KS, and
    merged (cascaded) sketches give the identical distance."""
    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_coarser,
        hist_rollup,
        ks_from_hists,
    )

    bins, lo, hi = 8, 0.0, 16.0
    ref_vals = {"a": [1.0, 3.0, 5.0, 5.5, 9.0], "b": [2.0, 2.0, 4.0]}
    cur_vals = {"a": [1.0, 11.0, 13.0, 15.0], "b": [2.0, 4.0, 6.0]}

    def brute_ks(r, c):
        def cdf(vals, b):
            n = sum(1 for v in vals if min(int(v // 2), bins - 1) <= b)
            return n / len(vals)

        return max(abs(cdf(r, b) - cdf(c, b)) for b in range(bins))

    def frame(vals):
        rows = [
            (g, f"2024-01-0{i % 3 + 1} 00:0{i % 6}:00", v)
            for g, vs in vals.items()
            for i, v in enumerate(vs)
        ]
        return spark.createDataFrame(rows, "g string, s string, v double").select(
            "g", F.col("s").cast("timestamp_ntz").alias("ts"), "v"
        )

    wide = 4.0e9
    rh = hist_rollup(frame(ref_vals), wide, "g", "v", lo=lo, hi=hi, bins=bins)
    ch = hist_rollup(frame(cur_vals), wide, "g", "v", lo=lo, hi=hi, bins=bins)
    out = {
        r["g"]: (r["n_ref"], r["n_cur"], r["ks"])
        for r in ks_from_hists(
            rh.drop("bucket", "n"), ch.drop("bucket", "n"), by="g", bins=bins
        ).collect()
    }
    for g in ("a", "b"):
        n_ref, n_cur, ks = out[g]
        assert n_ref == len(ref_vals[g]) and n_cur == len(cur_vals[g])
        assert abs(ks - brute_ks(ref_vals[g], cur_vals[g])) < 1e-12, g

    # cascade invariance: hourly fine sketches merged to one coarse
    # sketch score the SAME distance (mergeability is the whole point)
    fine_r = hist_rollup(frame(ref_vals), 3600.0, "g", "v", lo=lo, hi=hi, bins=bins)
    # coarse width must be a 3600-multiple; 3.6e9 s still swallows every
    # 2024 epoch into one bucket
    merged_r = hist_coarser(fine_r, 3600.0 * 1_000_000, by="g", fine_seconds=3600.0)
    out2 = {
        r["g"]: r["ks"]
        for r in ks_from_hists(
            merged_r.drop("bucket", "n"), ch.drop("bucket", "n"), by="g", bins=bins
        ).collect()
    }
    for g in ("a", "b"):
        assert abs(out2[g] - out[g][2]) < 1e-12, g


def test_ks_from_hists_one_sided_and_identical(spark):
    """A group missing on one side has no ECDF there → NULL ks (never a
    fake distance); identical sides score exactly 0; width mismatch
    raises in-plan."""
    import pytest as _pytest
    from pyspark.sql import Row

    from acoustic_feature_extractor_spark.operators.sketches import ks_from_hists

    ref = spark.createDataFrame(
        [Row(g="a", hist=[2, 0, 1, 0]), Row(g="only_ref", hist=[1, 1, 1, 1])]
    )
    cur = spark.createDataFrame([Row(g="a", hist=[2, 0, 1, 0])])
    out = {r["g"]: r["ks"] for r in ks_from_hists(ref, cur, by="g", bins=4).collect()}
    assert out["a"] == 0.0
    assert out["only_ref"] is None
    bad = spark.createDataFrame([Row(g="a", hist=[1, 2])])
    with _pytest.raises(Exception, match="hist width"):
        ks_from_hists(ref, bad, by="g", bins=4).collect()


def test_drift_from_counts_matches_spark_scoring(spark):
    """The driver-side PSI/KS agrees with psi_from_hists/ks_from_hists to
    rel 1e-12 on random 16-bin pairs; a zero-total side has no
    distribution, so both scores are None (KS is NULL in Spark too); a
    width mismatch raises."""
    import random

    import pytest as _pytest

    from acoustic_feature_extractor_spark.operators.sketches import (
        drift_from_counts,
        ks_from_hists,
        psi_from_hists,
    )

    rng = random.Random(8)
    pairs = {}
    for i in range(40):
        hi = rng.choice([3, 50, 10**6])
        pairs[f"g{i}"] = (
            [rng.randint(0, hi) for _ in range(16)],
            [rng.randint(0, hi) for _ in range(16)],
        )
    pairs["empty_ref"] = ([0] * 16, [rng.randint(0, 9) for _ in range(16)])
    pairs["empty_cur"] = ([rng.randint(0, 9) for _ in range(16)], [0] * 16)
    ddl = "g string, hist array<bigint>"
    ref = spark.createDataFrame([(g, r) for g, (r, _) in pairs.items()], ddl)
    cur = spark.createDataFrame([(g, c) for g, (_, c) in pairs.items()], ddl)
    terms: dict = {}
    for r in psi_from_hists(ref, cur, by="g", bins=16).collect():
        terms.setdefault(r["g"], {})[r["bin"]] = r["psi_term"]
    ks = {r["g"]: r["ks"] for r in ks_from_hists(ref, cur, by="g", bins=16).collect()}
    for g, (r, c) in pairs.items():
        psi, d = drift_from_counts(r, c)
        if g.startswith("empty"):
            assert psi is None and d is None and ks[g] is None
        else:
            assert psi == _pytest.approx(sum(terms[g][b] for b in sorted(terms[g])), rel=1e-12), g
            assert d == _pytest.approx(ks[g], rel=1e-12), g
    with _pytest.raises(ValueError, match="width"):
        drift_from_counts([1] * 16, [1] * 15)


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def _cms_fixture(spark, n=500, n_items=40, seed=11):
    import numpy as np

    rng = np.random.RandomState(seed)
    # zipf-ish: item i with weight 1/(i+1)
    w = 1.0 / (np.arange(n_items) + 1)
    ids = rng.choice(n_items, size=n, p=w / w.sum())
    rows = [(f"item{int(i)}", f"g{int(i) % 3}") for i in ids]
    return spark.createDataFrame(rows, "item string, grp string")


def test_cms_estimate_matches_exact_replay(spark):
    """The portable hashes make the whole sketch deterministic: replay the
    counter fold + min-probe in pandas from the SAME bucket assignments
    and the estimates must match EXACTLY — this pins collision handling,
    not just the >= truth bound."""
    from acoustic_feature_extractor_spark.operators.sketches import (
        _cms_bucket,
        cms_estimate,
        cms_rollup,
    )

    depth, width = 4, 64  # narrow on purpose: force real collisions
    df = _cms_fixture(spark)
    cms = cms_rollup(df, "item", depth=depth, width=width)
    items = df.select("item").distinct()
    got = {
        r.item: r.freq_est
        for r in cms_estimate(
            cms, items, "item", depth=depth, width=width
        ).collect()
    }
    # replay: bucket per (item, d) via the same expression, counters in pandas
    bk = df.select(
        "item",
        *[
            _cms_bucket(F.col("item"), d, width).alias(f"b{d}")
            for d in range(depth)
        ],
    ).toPandas()
    counts = bk.groupby("item").size()
    buckets = bk.drop_duplicates("item").set_index("item")
    counters = [dict() for _ in range(depth)]
    for item, n in counts.items():
        for d in range(depth):
            b = buckets.loc[item, f"b{d}"]
            counters[d][b] = counters[d].get(b, 0) + n
    for item, n in counts.items():
        exp = min(counters[d][buckets.loc[item, f"b{d}"]] for d in range(depth))
        assert got[item] == exp, (item, got[item], exp)
        assert got[item] >= n  # one-sided error: never under the truth


def test_cms_merge_equals_rebuild(spark):
    """Mergeability: per-group sketches folded with cms_coarser equal the
    sketch built directly from the union — frame-for-frame on the counter
    table (this is what makes the rollup cascade sound)."""
    from acoustic_feature_extractor_spark.operators.sketches import (
        cms_coarser,
        cms_rollup,
    )

    df = _cms_fixture(spark)
    per_group = cms_rollup(df, "item", by="grp", depth=3, width=32)
    merged = cms_coarser(per_group, by=None).orderBy("d", "bucket").toPandas()
    direct = cms_rollup(df, "item", depth=3, width=32).orderBy("d", "bucket").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(
        merged.reset_index(drop=True), direct.reset_index(drop=True)
    )


def test_cms_unseen_item_and_parquet_round_trip(spark, tmp_path):
    from acoustic_feature_extractor_spark.operators.sketches import (
        cms_estimate,
        cms_rollup,
    )

    df = _cms_fixture(spark)
    cms = cms_rollup(df, "item", depth=4, width=4096)
    p = str(tmp_path / "cms")
    cms.write.parquet(p)  # counters are plain longs — at-rest mergeable
    cms2 = spark.read.parquet(p)
    items = spark.createDataFrame([("never-seen-item",)], "item string")
    est = cms_estimate(cms2, items, "item", depth=4, width=4096).collect()[0]
    # wide sketch, 40 items: every depth row colliding is ~(40/4096)^4 —
    # deterministic hashes, verified zero
    assert est.freq_est == 0


def test_apply_changes_rejects_unknown_change_type(spark):
    """The retractable folds must FAIL on a change type outside
    {insert, delete} — a typo'd or future tag (e.g. Iceberg's
    ``update_postimage``) silently subtracting counters would corrupt
    every downstream summary (ADVICE r5). Guard is JVM-side
    (``raise_error``) so it costs nothing on valid rows."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from acoustic_feature_extractor_spark.operators.sketches import (
        hist_apply_changes,
        hist_rollup,
    )

    df = spark.range(50).selectExpr(
        "id % 3 AS g",
        "timestamp_micros(CAST(1704067200000000 + id * 60000000 AS BIGINT)) AS ts",
        "CAST(id AS DOUBLE) AS value",
    )
    base = hist_rollup(df, 3600.0, "g", "value", lo=0.0, hi=50.0, bins=8)
    bad = df.limit(5).withColumn("_change_type", F.lit("update_postimage"))
    with pytest.raises(SparkRuntimeException, match="update_postimage"):
        hist_apply_changes(base, bad, 3600.0, "g", "value", lo=0.0, hi=50.0, bins=8).collect()
