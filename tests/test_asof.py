"""As-of join: pd.merge_asof oracle, cogroup-vs-union equivalence,
tolerance/strict modes, and the ZERO TEMPORAL LEAKAGE property
(north_rule): no output may read right rows with ts greater than the
left timestamp."""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame

from acoustic_feature_extractor_spark.operators.asof import (
    align_sources,
    asof_join,
    asof_join_salted_jvm,
    resample_grid,
)

# the salted engine must be indistinguishable from the unsalted join
SALTED_IMPLS = [asof_join_salted_jvm]
SALTED_IDS = ["jvm"]


def _two_sides(spark, n_left=60, n_right=40, seed=3):
    rng = np.random.RandomState(seed)
    base = pd.Timestamp("2024-01-01")
    rows_l, rows_r = [], []
    for key in ["a", "b", "c"]:
        lts = np.sort(rng.choice(100_000, n_left, replace=False))
        rts = np.sort(rng.choice(100_000, n_right, replace=False))
        rows_l += [(key, base + pd.Timedelta(seconds=int(t)), float(i)) for i, t in enumerate(lts)]
        rows_r += [(key, base + pd.Timedelta(seconds=int(t)), float(rng.rand() * 100)) for t in rts]
    lpdf = pd.DataFrame(rows_l, columns=["conv_id", "ts", "lv"])
    rpdf = pd.DataFrame(rows_r, columns=["conv_id", "ts", "state"])
    return spark.createDataFrame(lpdf), spark.createDataFrame(rpdf), lpdf, rpdf


def _oracle(lpdf, rpdf, tolerance=None, allow_exact=True):
    out = []
    for k, lg in lpdf.groupby("conv_id"):
        rg = rpdf[rpdf.conv_id == k].sort_values("ts")
        m = pd.merge_asof(
            lg.sort_values("ts"),
            rg[["ts", "state"]].rename(columns={"state": "state_asof"}),
            on="ts",
            direction="backward",
            tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None,
            allow_exact_matches=allow_exact,
        )
        m["conv_id"] = k
        out.append(m)
    return pd.concat(out).sort_values(["conv_id", "ts"]).reset_index(drop=True)


def test_union_trick_matches_merge_asof(spark):
    l, r, lpdf, rpdf = _two_sides(spark)
    got = (
        asof_join(l, r, on="ts", by="conv_id", right_cols=["state"])
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    exp = _oracle(lpdf, rpdf)
    np.testing.assert_allclose(
        got["state_asof"].to_numpy(dtype=float), exp["state_asof"].to_numpy(dtype=float)
    )


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_cols: Iterable[str] | None = None,
    suffix: str = "_asof",
    kind: str = "nearest",  # "nearest" (backward) | "linear"
) -> DataFrame:
    """Arrow-batched sorted-merge as-of join (``pd.merge_asof`` per key).

    ``kind="linear"`` interpolates numeric right columns between the
    bracketing right rows (edge-clamped), matching the reference's
    ``kind="linear"`` resample (``sampling_data.py:43-50`` via
    scipy.interp1d with fill_value=(first, last)).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c != by and c != on]
    right_cols = list(right_cols)
    left_fields = left.schema.fields
    out_schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in left_fields]
    for c in right_cols:
        dt = "double" if kind == "linear" else right.schema[c].dataType.simpleString()
        out_schema_parts.append(f"`{c}{suffix}` {dt}")
    out_schema = ", ".join(out_schema_parts)
    left_names = [f.name for f in left_fields]

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.sort_values(on, kind="mergesort")
        if rpdf.empty:
            for c in right_cols:
                lpdf[f"{c}{suffix}"] = None
            return lpdf[left_names + [f"{c}{suffix}" for c in right_cols]]
        rpdf = rpdf.sort_values(on, kind="mergesort")
        if kind == "linear":
            import numpy as np

            lx = lpdf[on].astype("int64").to_numpy()
            rx = rpdf[on].astype("int64").to_numpy()
            for c in right_cols:
                ry = rpdf[c].astype("float64").to_numpy()
                lpdf[f"{c}{suffix}"] = np.interp(lx, rx, ry)
        else:
            merged = pd.merge_asof(
                lpdf,
                rpdf[[on] + right_cols].rename(columns={c: f"{c}{suffix}" for c in right_cols}),
                on=on,
                direction="backward",
            )
            merged.index = lpdf.index
            for c in right_cols:
                lpdf[f"{c}{suffix}"] = merged[f"{c}{suffix}"]
        return lpdf[left_names + [f"{c}{suffix}" for c in right_cols]]

    return (
        left.groupBy(by)
        .cogroup(right.groupBy(by))
        .applyInPandas(lambda li, ri: merge(li, ri), schema=out_schema)
    )


def test_cogroup_matches_union_trick(spark):
    l, r, _, _ = _two_sides(spark, seed=11)
    a = (
        asof_join(l, r, on="ts", by="conv_id", right_cols=["state"])
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    b = (
        asof_join_cogroup(l, r, on="ts", by="conv_id", right_cols=["state"])
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    np.testing.assert_allclose(
        a["state_asof"].to_numpy(dtype=float), b["state_asof"].to_numpy(dtype=float)
    )


def test_tolerance(spark):
    l, r, lpdf, rpdf = _two_sides(spark, seed=5)
    got = (
        asof_join(l, r, on="ts", by="conv_id", right_cols=["state"], tolerance_seconds=500.0)
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    exp = _oracle(lpdf, rpdf, tolerance=500.0)
    ga = got["state_asof"].to_numpy(dtype=float)
    ea = exp["state_asof"].to_numpy(dtype=float)
    assert np.array_equal(np.isnan(ga), np.isnan(ea))
    np.testing.assert_allclose(ga[~np.isnan(ga)], ea[~np.isnan(ea)])


def test_exact_match_semantics(spark):
    """A right row AT the left timestamp is visible with allow_exact (<=),
    invisible in strict mode (<)."""
    lpdf = pd.DataFrame(
        {"conv_id": ["a"], "ts": [pd.Timestamp("2024-01-01 00:10:00")], "lv": [1.0]}
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["a", "a"],
            "ts": [pd.Timestamp("2024-01-01 00:05:00"), pd.Timestamp("2024-01-01 00:10:00")],
            "state": [5.0, 9.0],
        }
    )
    l, r = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    got = asof_join(l, r, right_cols=["state"]).collect()[0]
    assert got["state_asof"] == 9.0
    got_strict = asof_join(l, r, right_cols=["state"], allow_exact_matches=False).collect()[0]
    assert got_strict["state_asof"] == 5.0


def test_zero_temporal_leakage(spark):
    """Perturb every right row with ts > cutoff; outputs at ts <= cutoff are
    bit-identical (north_rule leakage property)."""
    l, r, lpdf, rpdf = _two_sides(spark, seed=13)
    cutoff = pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=50_000)
    import pyspark.sql.functions as F

    r_perturbed = r.withColumn(
        "state", F.when(F.col("ts") > F.lit(cutoff), F.col("state") * 1000 + 7).otherwise(F.col("state"))
    )
    a = asof_join(l, r, right_cols=["state"]).where(F.col("ts") <= F.lit(cutoff))
    b = asof_join(l, r_perturbed, right_cols=["state"]).where(F.col("ts") <= F.lit(cutoff))
    pa = a.orderBy("conv_id", "ts").toPandas()
    pb = b.orderBy("conv_id", "ts").toPandas()
    np.testing.assert_array_equal(
        pa["state_asof"].to_numpy(dtype=float), pb["state_asof"].to_numpy(dtype=float)
    )


def test_resample_nearest_matches_repeat_oracle(spark):
    """Integer-ratio resample equals numpy repeat/gather — the reference's
    own oracle (``tests/test_sampling_data.py:15-43``)."""
    rng = np.random.RandomState(1)
    vals = {k: rng.rand(24) for k in ["a", "b"]}
    pdf = pd.DataFrame(
        [(k, i, float(v[i])) for k, v in vals.items() for i in range(len(v))],
        columns=["conv_id", "turn_idx", "v"],
    )
    df = spark.createDataFrame(pdf)
    # upsample x3 == numpy.repeat
    up = resample_grid(df, src_rate=1.0, dst_rate=3.0, value_cols=["v"]).orderBy(
        "conv_id", "turn_idx"
    ).toPandas()
    for k, v in vals.items():
        got = up[up.conv_id == k]["v"].to_numpy()
        np.testing.assert_allclose(got, np.repeat(v, 3))
    # downsample /2 == stride gather
    down = resample_grid(df, src_rate=2.0, dst_rate=1.0, value_cols=["v"]).orderBy(
        "conv_id", "turn_idx"
    ).toPandas()
    for k, v in vals.items():
        got = down[down.conv_id == k]["v"].to_numpy()
        np.testing.assert_allclose(got, v[::2])


def test_resample_linear_matches_interp(spark):
    rng = np.random.RandomState(2)
    v = rng.rand(16)
    pdf = pd.DataFrame({"conv_id": "a", "turn_idx": range(16), "v": v})
    df = spark.createDataFrame(pdf)
    up = resample_grid(df, src_rate=1.0, dst_rate=2.0, value_cols=["v"], kind="linear")
    got = up.orderBy("turn_idx").toPandas()["v"].to_numpy()
    expected = np.interp(np.arange(32) * 0.5, np.arange(16), v)
    np.testing.assert_allclose(got, expected, rtol=1e-12)


def test_align_sources_min_mode(spark):
    l, r, lpdf, rpdf = _two_sides(spark, seed=17)
    r2 = r.withColumnRenamed("state", "s2")
    a = align_sources([l, r, r2], on="ts", by="conv_id",
                      value_cols=[["lv"], ["state"], ["s2"]], mode="min")
    pa = a.toPandas()
    assert {"lv", "state_s1", "s2_s2"} <= set(pa.columns)
    # min mode truncates the grid to the shortest source's span
    max_r = rpdf.groupby("conv_id")["ts"].max()
    for k, g in pa.groupby("conv_id"):
        assert g["ts"].max() <= max_r[k]


@pytest.mark.parametrize("salted_impl", SALTED_IMPLS, ids=SALTED_IDS)
def test_salted_asof_equals_unsalted(spark, salted_impl):
    """The salted engine (union trick + chunk carry) must be frame-for-
    frame identical to the plain as-of join — carry rows hand the true
    predecessor across every salt boundary. Small chunk_seconds forces
    many chunks per entity. The right payload includes NULLS and the
    comparison also covers the matched row's own timestamp, so a carry
    that skipped a null payload or stitched fields from different right
    rows would be caught."""
    import pyspark.sql.functions as F

    l, r, lpdf, rpdf = _two_sides(spark, n_left=80, n_right=50, seed=7)
    # null payloads on a deterministic subset + the matched ts as a column
    r = r.withColumn(
        "state", F.when(F.second("ts") % 5 != 0, F.col("state"))
    ).withColumn("rts", F.col("ts").cast("double"))
    plain = (
        asof_join(l, r, right_cols=["state", "rts"])
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    for chunk_seconds in (500.0, 7_000.0, 1e9):  # many chunks .. one chunk
        salted = (
            salted_impl(
                l, r, right_cols=["state", "rts"], chunk_seconds=chunk_seconds
            )
            .orderBy("conv_id", "ts")
            .toPandas()
        )
        for col in ("state_asof", "rts_asof"):
            np.testing.assert_allclose(
                salted[col].to_numpy(dtype=float),
                plain[col].to_numpy(dtype=float),
                equal_nan=True,
                err_msg=f"chunk_seconds={chunk_seconds} col={col}",
            )


@pytest.mark.parametrize("salted_impl", SALTED_IMPLS, ids=SALTED_IDS)
def test_salted_asof_null_timestamps(spark, salted_impl):
    """Null-ts left rows pass through with null payloads (as in the pure
    Catalyst asof_join); null-ts right rows are ignored."""
    base = pd.Timestamp("2024-01-01")
    lpdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "a"],
            "ts": [base, pd.NaT, base + pd.Timedelta(seconds=100)],
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["a", "a"],
            "ts": [base + pd.Timedelta(seconds=50), pd.NaT],
            "state": [1.0, 99.0],
        }
    )
    got = (
        salted_impl(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            right_cols=["state"],
            chunk_seconds=10.0,
        )
        .toPandas()
        .sort_values("ts", na_position="first")
    )
    vals = got["state_asof"].tolist()
    assert np.isnan(vals[0])  # null-ts left row -> null payload
    assert np.isnan(vals[1])  # ts=base precedes all right rows
    assert vals[2] == 1.0  # never 99.0: null-ts right row is invisible


@pytest.mark.parametrize("salted_impl", SALTED_IMPLS, ids=SALTED_IDS)
def test_salted_asof_mega_entity(spark, salted_impl):
    """A mega-entity spread over many chunks still matches the oracle."""
    rng = np.random.RandomState(11)
    base = pd.Timestamp("2024-01-01")
    n = 3000
    lts = np.sort(rng.choice(1_000_000, n, replace=False))
    rts = np.sort(rng.choice(1_000_000, n // 3, replace=False))
    lpdf = pd.DataFrame(
        {"conv_id": "mega", "ts": [base + pd.Timedelta(seconds=int(t)) for t in lts]}
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": "mega",
            "ts": [base + pd.Timedelta(seconds=int(t)) for t in rts],
            "state": rng.rand(len(rts)) * 100,
        }
    )
    got = (
        salted_impl(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            right_cols=["state"],
            chunk_seconds=10_000.0,  # ~100 chunks
        )
        .orderBy("ts")
        .toPandas()
    )
    exp = pd.merge_asof(
        lpdf.sort_values("ts"),
        rpdf[["ts", "state"]].rename(columns={"state": "state_asof"}),
        on="ts",
        direction="backward",
    )
    np.testing.assert_allclose(
        got["state_asof"].to_numpy(dtype=float),
        exp["state_asof"].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_align_sources_max_mode_zero_pads(spark):
    """mode="max" mirrors the reference's pad-to-longest with zero fill
    (sampling_data.py:111-121): the grid is the union of all sources'
    timestamps, and each source reads 0.0 outside its own span."""
    import pyspark.sql.functions as F

    base = pd.Timestamp("2024-01-01")
    t = lambda s: base + pd.Timedelta(seconds=s)  # noqa: E731
    a = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["x"] * 3, "ts": [t(0), t(10), t(20)], "av": [1.0, 2.0, 3.0]})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["x"] * 2, "ts": [t(5), t(40)], "bv": [10.0, 20.0]})
    )
    out = (
        align_sources([a, b], value_cols=[["av"], ["bv"]], mode="max")
        .orderBy("ts")
        .toPandas()
    )
    # grid = union of both sources' timestamps
    assert [int(x) for x in (out["ts"] - base).dt.total_seconds()] == [0, 5, 10, 20, 40]
    # source a: as-of within span, 0.0 beyond its last ts (t=40 > 20)
    assert out["av_s0"].tolist() == [1.0, 1.0, 2.0, 3.0, 0.0]
    # source b: 0.0 before its first row (t=0), as-of elsewhere
    assert out["bv_s1"].tolist() == [0.0, 10.0, 10.0, 10.0, 20.0]

    # min mode on the same fixture: grid truncated to the shortest span
    out_min = (
        align_sources([a, b], value_cols=[["av"], ["bv"]], mode="min")
        .orderBy("ts")
        .toPandas()
    )
    assert [int(x) for x in (out_min["ts"] - base).dt.total_seconds()] == [0, 10, 20]

    # first mode: grid = source a's rows, b as-of'd (left+fill)
    out_first = (
        align_sources([a, b], value_cols=[["av"], ["bv"]], mode="first")
        .orderBy("ts")
        .toPandas()
    )
    assert [int(x) for x in (out_first["ts"] - base).dt.total_seconds()] == [0, 10, 20]
    assert np.isnan(out_first["bv_s1"].iloc[0])  # no zero-pad in first mode


def test_align_rejected_entities_side_channel(spark):
    """The tolerance check surfaces violators as a real validation table
    (the reference's assert at sampling_data.py:98-103), including
    entities missing from one source entirely."""
    from acoustic_feature_extractor_spark.operators.asof import (
        align_rejected_entities,
    )

    base = pd.Timestamp("2024-01-01")
    t = lambda s: base + pd.Timedelta(seconds=s)  # noqa: E731
    a = spark.createDataFrame(
        pd.DataFrame(
            {"conv_id": ["ok", "bad", "half"], "ts": [t(100), t(100), t(100)], "av": [1.0] * 3}
        )
    )
    b = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["ok", "bad"], "ts": [t(110), t(9000)], "bv": [1.0] * 2})
    )
    rej = align_rejected_entities([a, b], error_time_length=60.0).toPandas()
    assert set(rej["conv_id"]) == {"bad", "half"}


def _oracle_dir(lpdf, rpdf, direction, tolerance=None, allow_exact=True):
    out = []
    for k, lg in lpdf.groupby("conv_id"):
        rg = rpdf[rpdf.conv_id == k].sort_values("ts")
        m = pd.merge_asof(
            lg.sort_values("ts"),
            rg[["ts", "state"]].rename(columns={"state": "state_asof"}),
            on="ts",
            direction=direction,
            tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None,
            allow_exact_matches=allow_exact,
        )
        m["conv_id"] = k
        out.append(m)
    return pd.concat(out).sort_values(["conv_id", "ts"]).reset_index(drop=True)


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("allow_exact", [True, False])
@pytest.mark.parametrize("tolerance", [None, 5000.0])
def test_asof_directions_match_merge_asof(spark, direction, allow_exact, tolerance):
    l, r, lpdf, rpdf = _two_sides(spark, seed=17)
    got = (
        asof_join(
            l,
            r,
            on="ts",
            by="conv_id",
            right_cols=["state"],
            tolerance_seconds=tolerance,
            allow_exact_matches=allow_exact,
            direction=direction,
        )
        .orderBy("conv_id", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = _oracle_dir(lpdf, rpdf, direction, tolerance, allow_exact)
    np.testing.assert_allclose(
        got["state_asof"].to_numpy(dtype=float),
        exp["state_asof"].to_numpy(dtype=float),
        err_msg=f"{direction} exact={allow_exact} tol={tolerance}",
    )


def test_asof_nearest_tie_prefers_backward(spark):
    base = pd.Timestamp("2024-01-01")
    t = lambda s: base + pd.Timedelta(seconds=s)  # noqa: E731
    l = spark.createDataFrame(pd.DataFrame({"conv_id": ["k"], "ts": [t(10)]}))
    r = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["k", "k"], "ts": [t(5), t(15)], "state": [1.0, 2.0]})
    )
    for exact in (True, False):
        got = asof_join(
            l, r, on="ts", by="conv_id", right_cols=["state"],
            allow_exact_matches=exact, direction="nearest",
        ).toPandas()
        assert got["state_asof"].iloc[0] == 1.0  # pandas tie rule: backward


def test_asof_forward_exact_match_semantics(spark):
    base = pd.Timestamp("2024-01-01")
    t = lambda s: base + pd.Timedelta(seconds=s)  # noqa: E731
    l = spark.createDataFrame(pd.DataFrame({"conv_id": ["k"], "ts": [t(10)]}))
    r = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["k", "k"], "ts": [t(10), t(20)], "state": [7.0, 9.0]})
    )
    inc = asof_join(
        l, r, on="ts", by="conv_id", right_cols=["state"], direction="forward"
    ).toPandas()
    exc = asof_join(
        l, r, on="ts", by="conv_id", right_cols=["state"],
        allow_exact_matches=False, direction="forward",
    ).toPandas()
    assert inc["state_asof"].iloc[0] == 7.0
    assert exc["state_asof"].iloc[0] == 9.0


# ---------------------------------------------------------------------------
# point-in-time multi-source enrichment (feature-store join, ONE shuffle)
# ---------------------------------------------------------------------------

def _spine_sources(spark, seed=7):
    rng = np.random.RandomState(seed)
    base = pd.Timestamp("2024-01-01")
    spine_rows = []
    src = {n: [] for n in ("alpha", "beta", "gamma")}
    for key in ["a", "b", "c", "d"]:
        for i, t in enumerate(np.sort(rng.choice(50_000, 40, replace=False))):
            spine_rows.append((key, base + pd.Timedelta(seconds=int(t)), float(i)))
        for n in src:
            # distinct ts per (key, source): unique-(by, on) contract
            for t in np.sort(rng.choice(50_000, 25, replace=False)):
                src[n].append(
                    (key, base + pd.Timedelta(seconds=int(t)),
                     float(rng.rand() * 10), int(rng.randint(0, 5)))
                )
    spine = spark.createDataFrame(
        pd.DataFrame(spine_rows, columns=["conv_id", "ts", "sv"])
    )
    sources = {
        n: spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "ts", "x", "k"])
        )
        for n, rows in src.items()
    }
    return spine, sources


def _collect_sorted(df):
    pdf = df.toPandas().sort_values(["conv_id", "ts", "sv"]).reset_index(drop=True)
    return pdf.reindex(sorted(pdf.columns), axis=1)


@pytest.mark.parametrize("tol", [None, {"beta": 1000.0}], ids=["plain", "tolerance"])
def test_point_in_time_enrich_matches_sequential_asof(spark, tol):
    """K-source single-shuffle enrichment is row-for-row identical to K
    chained asof_joins (the reference composition)."""
    from acoustic_feature_extractor_spark.operators.asof import point_in_time_enrich

    spine, sources = _spine_sources(spark)
    got = point_in_time_enrich(spine, sources, on="ts", by="conv_id", tolerance_seconds=tol)
    chained = spine
    for n, s in sources.items():
        chained = asof_join(
            chained, s, on="ts", by="conv_id", right_cols=["x", "k"],
            suffix=f"_{n}",
            tolerance_seconds=(tol or {}).get(n) if isinstance(tol, dict) else tol,
        )
    g, c = _collect_sorted(got), _collect_sorted(chained)
    assert list(g.columns) == list(c.columns)
    pd.testing.assert_frame_equal(g, c, check_dtype=False)


def test_point_in_time_enrich_zero_leakage(spark):
    """No output feature may come from a source row later than the spine
    timestamp (north_rule's zero-temporal-leakage contract)."""
    from acoustic_feature_extractor_spark.operators.asof import point_in_time_enrich

    spine, sources = _spine_sources(spark, seed=11)
    out = point_in_time_enrich(spine, sources, on="ts", by="conv_id").toPandas()
    for n in sources:
        m = out[f"ts_{n}"].notna()
        assert (out.loc[m, f"ts_{n}"] <= out.loc[m, "ts"]).all()


def test_point_in_time_enrich_single_exchange(spark):
    """All K source fills share ONE Window node over ONE exchange — the
    operator's reason to exist (K chained asof_joins cost K exchanges);
    and nothing evaluates in Python."""
    import contextlib
    import io
    import re

    from acoustic_feature_extractor_spark.operators.asof import point_in_time_enrich

    spine, sources = _spine_sources(spark)
    df = point_in_time_enrich(spine, sources, on="ts", by="conv_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    wn = len(re.findall(r"\(\d+\) Window\b", plan))
    assert ex == 1, f"expected 1 exchange for 3 sources, saw {ex}\n{plan[:3000]}"
    assert wn == 1, f"expected 1 fused Window node, saw {wn}\n{plan[:3000]}"
