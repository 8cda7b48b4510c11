"""Physical-plan audits: the scale properties SURVEY §4 promises must be
visible in the executed plan, not just intended.

- predicate pushdown reaches the parquet scan (PushedFilters)
- column pruning: the scan's ReadSchema carries only referenced columns
- small dimension tables broadcast (BroadcastHashJoin, no shuffle join)
- windows stay whole-stage-codegen-adjacent with a single exchange chain
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as m

    return m


def test_filter_pushdown_and_pruning(spark, entry_mod):
    plan = _plan(entry_mod.queries()["tpch_q1"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: only the 6 referenced lineitem columns are read
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_dimension_joins_broadcast(spark, entry_mod):
    plan = _plan(entry_mod.queries()["revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle-join


def test_asof_union_trick_is_pure_jvm(spark, entry_mod):
    """The union-trick as-of join must contain no Python evaluation node."""
    plan = _plan(entry_mod.queries()["asof_join"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" in plan


def test_flagship_single_window_exchange(spark):
    """All conv_id windows of the flagship pipeline reuse ONE exchange —
    adding window specs must not add shuffles."""
    from acoustic_feature_extractor_spark.datagen import generate_transcripts
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    t = generate_transcripts(spark, n_convs=20)
    plan = _plan(turn_features(t))
    # exchanges: 1 for the conv_id windows (+1 inside the tiny stats
    # aggregate + its broadcast). The window chain itself must reuse one.
    # formatted explain prints exchange partitioning in the details
    # section as "Arguments: hashpartitioning(conv_id#...)"
    n_hash_exchanges = plan.count("hashpartitioning(conv_id")
    assert n_hash_exchanges == 1, plan


def test_scan_prunes_to_two_columns(spark):
    d = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey").distinct()
    read = [l for l in _plan(d).splitlines() if "ReadSchema" in l][0]
    assert "struct<l_orderkey" in read and "l_extendedprice" not in read


def test_size_gated_broadcast(spark):
    """A broadcast hint on a relation that grows with the input is a
    scale hazard (a forced hint past the 8 GB ceiling FAILS the job
    instead of falling back to a shuffle join). maybe_broadcast gates the
    hint on Catalyst's own optimizer size estimate: a small relation gets
    the static hint, a large one is left for AQE to decide at runtime."""
    from acoustic_feature_extractor_spark.plans.hints import (
        estimated_size_bytes,
        maybe_broadcast,
    )

    small = spark.range(100)
    big = spark.range(1 << 33)  # est ~64 GB — far past any threshold
    assert estimated_size_bytes(big) > (8 << 30)
    hinted = maybe_broadcast(small)._jdf.queryExecution().analyzed().toString()
    unhinted = maybe_broadcast(big)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted
    assert "ResolvedHint" not in unhinted
    # estimates past 63 bits (join stacks multiply them; iterative plans
    # reach millions of DIGITS) must bail via the O(1) bitLength probe —
    # int()-converting the BigInt would ship every digit over py4j and
    # wedge the driver for minutes
    huge = spark.range(1 << 40).crossJoin(spark.range(1 << 40))
    assert estimated_size_bytes(huge) is None
    assert "ResolvedHint" not in (
        maybe_broadcast(huge)._jdf.queryExecution().analyzed().toString()
    )


def test_no_unconditional_broadcast_of_fact_scaled_relations():
    """Source lint: every ``F.broadcast`` in the operator package must be
    either size-gated (``maybe_broadcast``) or on a relation bounded BY
    CONSTRUCTION (1-row global stats, n_chunks-row offset tables,
    caller-capped entity picks). Any new raw hint site fails here until
    it is justified below — the review gate for the 8 GB-ceiling hazard."""
    import pathlib

    pkg = pathlib.Path("acoustic_feature_extractor_spark")
    allowed = {
        # file -> bounded-by-construction justification
        "plans/pipeline.py": 1,   # 1-row global corpus stats
        # <=max_entities picks + 1-row mixture total
        "operators/sample.py": 2,
        # 1-row vocab-size aggregate (bigram LM) + top_n-row vocabulary
        # (oov_stats; caller-capped by build_vocab's top_n)
        "functions/text.py": 2,
        # 1-row CUSUM reference stats (mu, var)
        "operators/temporal.py": 1,
        # hot-key set: <= total_rows/threshold keys by construction
        # (hot_entity_keys output), key columns only
        "operators/skew.py": 1,
        # ONE-row bloom bitmap (n_bits/8 bytes whatever the key count)
        "plans/bloom.py": 1,
        # 1-row global agg resolving the fractional hot-shingle cap
        "operators/dedup.py": 1,
    }
    for f in pkg.rglob("*.py"):
        if f.name == "hints.py":
            continue
        n = open(f).read().count("F.broadcast(")
        rel = str(f.relative_to(pkg))
        assert n <= allowed.get(rel, 0), (
            f"{rel}: {n} raw F.broadcast sites (allowed "
            f"{allowed.get(rel, 0)}) — use maybe_broadcast or justify here"
        )


def test_salted_asof_jvm_is_pure_jvm(spark, entry_mod):
    """The default salted as-of engine must contain no Python evaluation
    node — the whole point of composing the union trick with the chunk
    carry (the Arrow merge_asof variant exists separately)."""
    plan = _plan(entry_mod.queries()["asof_salted"](spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_flagship_single_sort(spark):
    """All five window passes of the flagship run on ONE (conv_id,
    turn_idx) sort — the session-position window must not reintroduce a
    (conv_id, session_id) local sort."""
    import re

    from acoustic_feature_extractor_spark.datagen import generate_transcripts
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    t = generate_transcripts(spark, n_convs=20)
    ex = turn_features(t)._jdf.queryExecution().executedPlan().toString()
    sorts = re.findall(r"Sort \[([^\]]*)\]", ex)
    # datagen itself orders by conv_idx (generation layout) — the
    # pipeline may add exactly ONE sort, on (conv_id, turn_idx)
    pipeline_sorts = [s for s in sorts if s.startswith("conv_id#")]
    assert len(pipeline_sorts) == 1, sorts
    assert "session_id" not in pipeline_sorts[0]


def test_dup_spans_single_doc_exchange_and_no_python(spark, entry_mod):
    """Substring dedup: pure JVM (no Python eval nodes), window table
    persisted once (InMemoryTableScan feeds both count and join-back),
    and the per-doc run-merge costs exactly one doc_id exchange."""
    import re

    plan = _plan(entry_mod.queries()["dup_spans"](spark, SF))
    assert "EvalPython" not in plan
    assert "InMemoryTableScan" in plan
    doc_exchanges = re.findall(r"hashpartitioning\(doc_id#", plan)
    assert len(doc_exchanges) == 1, plan[:2000]


def test_mixture_sample_no_fact_shuffle(spark, entry_mod):
    """Mixture sampling replicates map-side: the only exchanges are the
    tiny per-group count aggregations — the corpus itself must not be
    hash-repartitioned (its side of the rate join is broadcast/AQE)."""
    import re

    plan = _plan(entry_mod.queries()["mixture_sample"](spark, SF))
    assert "EvalPython" not in plan
    # group-count aggregation shuffles on lang (tiny rows); the fact
    # table must never shuffle on doc_id for this op
    assert not re.findall(r"hashpartitioning\(doc_id#", plan), plan[:2000]


def test_decontaminate_broadcasts_benchmark_side(spark, entry_mod):
    """The eval-set sweep is a map-side join over the corpus: the tiny
    benchmark shingle table must arrive via BroadcastExchange."""
    plan = _plan(entry_mod.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_trailing_window_single_exchange(spark, entry_mod):
    """All RANGE frames (both horizons, count+sum, plus the salt explode)
    share ONE fact exchange — and nothing evaluates in Python."""
    import re

    plan = _plan(entry_mod.queries()["trailing_window"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted mode lists nodes as "(N) Exchange" with args on detail lines
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"expected 1 fact exchange, saw {ex}\n{plan}"


def test_temporal_two_phase_no_python(spark, entry_mod):
    """time_decay / target_encode / novelty_split run the chunked
    two-phase plans: pure JVM, no per-row Python anywhere."""
    for q in ("time_decay", "target_encode", "novelty_split"):
        plan = _plan(entry_mod.queries()[q](spark, SF))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, q
        assert "Window" in plan, q


def test_gopher_fold_map_only_and_methods_agree(spark):
    """``gopher_keep`` — the fold-based predicate the streaming curation
    job gates with — and ``gopher_filter`` are each ONE map-only
    projection (zero exchanges, zero Python), and their verdicts agree."""
    import re

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.functions.text import gopher_filter, gopher_keep

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fold = docs.select("doc_id", gopher_keep(F.col("text"), min_words=20).alias("keep"))
    plan = _plan(fold)
    assert "EvalPython" not in plan
    assert not re.findall(r"\(\d+\) Exchange\b", plan), plan[:2000]
    batch = gopher_filter(docs, min_words=20)
    plan = _plan(batch)
    assert "EvalPython" not in plan
    assert not re.findall(r"\(\d+\) Exchange\b", plan), plan[:2000]
    a = sorted(map(tuple, fold.collect()))
    b = sorted(map(tuple, batch.select("doc_id", "keep").collect()))
    assert a == b
    assert {k for _, k in a} == {True, False}  # the fixture exercises both verdicts


def test_c4_clean_map_only(spark, entry_mod):
    """C4 cleaning is a pure projection: zero exchanges, zero Python —
    at 100 TB it pipelines with the scan and writes straight back out."""
    import re

    plan = _plan(entry_mod.queries()["c4_clean"](spark, SF))
    assert "EvalPython" not in plan
    assert not re.findall(r"\(\d+\) Exchange\b", plan), plan[:2000]


@pytest.mark.parametrize("c4", [False, True])
def test_curate_fused_plan_scans_input_twice(spark, c4):
    """The curation job's C4, quality and scrub stages filter and rewrite
    columns of the frame they are given, so the fused plan reads the
    documents twice: once for each dedup stage's second reference to its
    input."""
    import importlib.util
    import os
    import re

    from acoustic_feature_extractor_spark.plans.cache import release_persisted

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "curate_corpus.py")
    spec = importlib.util.spec_from_file_location("curate_corpus", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    cur = spark.read.parquet(f"{SF}/documents.parquet")
    for _, fn in job.stage_transforms(n_shards=4, c4=c4):
        cur = fn(cur)
    plan = _plan(cur)
    release_persisted()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:4000]


def test_embedding_outliers_shuffles_partials_not_vectors(spark, entry_mod):
    """Label-centroid outliers: the only hash exchanges are the exploded
    (label, dim) partial-average and the labels×dim fold — the corpus
    itself must never repartition by vec_id, and the centroid join
    arrives via broadcast (size-gated: labels are few here)."""
    import re

    plan = _plan(entry_mod.queries()["embedding_outliers"](spark, SF))
    assert "EvalPython" not in plan
    assert not re.findall(r"hashpartitioning\(vec_id#", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_quantile_bin_no_global_sort(spark, entry_mod):
    """Equal-frequency binning must never plan a global (non-partitioned)
    sort — rank comes from (chunk)-local sorts + the count prefix."""
    plan = _plan(entry_mod.queries()["quantile_bin"](spark, SF))
    assert "Exchange rangepartitioning" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bloom_prefilter_map_side(spark):
    """The bloom probe costs the fact side ZERO shuffles: the bitmap
    arrives as a one-row broadcast, the k bit tests evaluate in the scan
    stage (pure JVM), and no Exchange appears anywhere in the plan."""
    import re

    from acoustic_feature_extractor_spark.plans.bloom import bloom_prefilter

    fact = spark.range(10_000).selectExpr("id", "id % 97 AS key")
    keys = spark.range(10).selectExpr("id * 9 AS key")
    plan = _plan(bloom_prefilter(fact, keys, "key"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert not re.findall(r"\(\d+\) Exchange\b", plan), plan[:2000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_zorder_layout_single_range_exchange(spark):
    """The whole multi-dim clustering is ONE range shuffle on the z-value;
    the curve itself is codegen Column algebra, not Python."""
    import re

    from acoustic_feature_extractor_spark.sources.layout import zorder_layout

    df = spark.range(20_000).selectExpr(
        "id",
        "CAST(pmod(xxhash64(id), 100) AS DOUBLE) AS x",
        "CAST(pmod(xxhash64(id, 3), 100) AS DOUBLE) AS y",
    )
    plan = _plan(zorder_layout(df, ["x", "y"], 8))
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"expected 1 range exchange, saw {ex}\n{plan[:2000]}"
    assert "rangepartitioning" in plan.lower()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hist_rollup_single_exchange_partial_agg(spark):
    """Histogram sketching is one partial/final aggregate: the shuffle
    carries per-group bin counts (map-side combined), never raw rows."""
    import re

    from acoustic_feature_extractor_spark.operators.sketches import hist_rollup

    df = spark.range(20_000).selectExpr(
        "id % 5 AS g",
        "timestamp_micros(CAST(1704067200000000 + id * 1000000 AS BIGINT)) AS ts",
        "CAST(pmod(id, 100) AS DOUBLE) AS value",
    )
    plan = _plan(hist_rollup(df, 3600.0, "g", "value", lo=0.0, hi=100.0, bins=16))
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"expected 1 exchange, saw {ex}\n{plan[:2000]}"
    assert "HashAggregate" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_context_assembly_single_exchange_no_python(spark, entry_mod):
    """The context-window assembler (cumsum window + RANGE budget frame +
    prior-count frame) shares ONE (user) exchange and stays pure JVM."""
    import re

    plan = _plan(entry_mod.queries()["context_assembly"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"expected 1 exchange, saw {ex}\n{plan}"


def test_conv_dedup_single_scan_no_join(spark, entry_mod):
    """Fused fingerprints: ONE scan of the turns table, no join — the
    full and prefix fingerprints come out of one conditional-sum groupBy
    (plus the two fp-group count windows)."""
    import re

    plan = _plan(entry_mod.queries()["conv_dedup"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted mode prints each node once in the tree ("Scan parquet (1)")
    # and once in the detail section ("(1) Scan parquet") — count node ids
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, f"expected 1 scan, saw {scans}\n{plan}"
    assert "Join" not in plan, plan


def test_degenerate_loops_single_fact_exchange(spark, entry_mod):
    """Gaps-and-islands: both row_numbers ride one (user) exchange; the
    two shrinking groupBys add at most aggregation exchanges over the
    already-reduced runs table."""
    plan = _plan(entry_mod.queries()["degenerate_loops"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" in plan


def test_funnel_single_scan_no_join_no_python(spark, entry_mod):
    """The funnel fold must beat the oracle's k sequential min-joins: ONE
    scan of the fact (the step-vocab filter rides it), ONE grouping, no
    join, no Python anywhere."""
    import re

    plan = _plan(entry_mod.queries()["tool_funnel"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, f"expected 1 scan, saw {scans}\n{plan}"
    assert "Join" not in plan, plan


def test_kanon_single_window_no_join(spark, entry_mod):
    """k-anonymity is ONE window count over the quasi columns — a group
    -count join would scan the fact twice."""
    import re

    plan = _plan(entry_mod.queries()["kanon_suppress"](spark, SF))
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, f"expected 1 scan, saw {scans}\n{plan}"
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_changepoints_stats_broadcast_single_fact_exchange(spark, entry_mod):
    """CUSUM: the reference (mu, var) is a 1-row broadcast; the fact
    shuffles once on the entity for the score windows; zero Python."""
    import re

    plan = _plan(entry_mod.queries()["changepoints"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    shuffles = len(re.findall(r"\(\d+\) Exchange hashpartitioning", plan))
    assert shuffles <= 2, f"fact should exchange once (+1 row-stats), saw {shuffles}\n{plan}"


def test_weighted_sample_two_phase_no_global_sort(spark, entry_mod):
    """A-ES sampling inherits the salted two-phase top-k: no global sort
    of the fact, no Python; the ES key is pure column algebra."""
    plan = _plan(entry_mod.queries()["weighted_sample"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # a global Sort over the raw fact would show as a SinglePartition
    # exchange BEFORE any aggregation/window — the two-phase plan only
    # funnels already-pruned rows into the final per-group rank
    assert "rangepartitioning" not in plan.lower(), plan


def test_drift_ks_single_fact_scan(spark, entry_mod):
    """drift_ks computes BOTH sides' histograms through one hist_rollup
    keyed by (event_type, side) and pins the SKETCH-sized result before
    the ref/cur split: both branches must read the pinned aggregate
    (InMemoryTableScan), never re-derive it — without the pin, Catalyst
    pushes each side's group-key filter back through the aggregate and
    re-scans the fact table per side (measured: 4 scans)."""
    df = entry_mod.queries()["drift_ks"](spark, SF)
    df.count()  # materialize the pin, then read the FINAL adaptive plan
    ex = df._jdf.queryExecution().executedPlan().toString()
    n_mem = ex.count("InMemoryTableScan")
    assert n_mem == 2, (
        f"{n_mem} InMemoryTableScans — the ref/cur split no longer reads "
        "the pinned one-scan sketch"
    )


def test_rolling_autocorr_single_exchange(spark, entry_mod):
    """rolling_autocorr: the turn-index row_number, the lag projection,
    and the six frame sums all ride ONE (user_id) hash exchange — two
    sorts (ts-order, then idx-order), three Window nodes, zero joins."""
    df = entry_mod.queries()["rolling_autocorr"](spark, SF)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert ex.count("Exchange hashpartitioning") == 1, ex[:2000]
    assert "Join" not in ex


def test_recency_and_labels_fuse_onto_one_exchange(spark, entry_mod):
    """time_since_event (backward RANGE) and future_outcomes (forward
    RANGE) composed on the same key share ONE (key, t) exchange — the
    "labels join features for free" claim: Catalyst fuses both frames
    onto a single sort, no second shuffle, no Python."""
    import re

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.temporal import (
        future_outcomes,
        time_since_event,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    feat = time_since_event(
        ev, F.col("event_type") == "click", key="user_id", ts_col="ts"
    )
    both = future_outcomes(
        feat,
        F.col("event_type") == "error",
        horizon_seconds=3600.0,
        key="user_id",
        ts_col="ts",
    )
    plan = _plan(both)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"expected 1 shared exchange, saw {ex}\n{plan}"


def test_cms_rollup_partial_agg_no_join(spark):
    """cms_rollup is one scan + map-side explode + partial/final groupBy:
    exactly one exchange (carrying counters, not items) and no join; the
    estimate probe joins only the counter table."""
    import re

    from pyspark.sql import functions as F

    from acoustic_feature_extractor_spark.operators.sketches import cms_rollup

    ev = spark.read.parquet(f"{SF}/events.parquet")
    cms = cms_rollup(
        ev.select(F.col("user_id").cast("string").alias("item")), "item",
        depth=4, width=64,
    )
    plan = _plan(cms)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan, plan[:2000]
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex == 1, f"expected 1 exchange, saw {ex}\n{plan}"
    # partial aggregation before the exchange (map-side combine)
    assert "partial_count" in plan or "HashAggregate" in plan


# "(N) Exchange" nodes in the formatted plan of every chunked path at
# c5eda02, the last commit whose chunked paths each joined their summary
# back by hand, planned with AQE off, no size-based broadcast and every
# join-back hint disabled. The join back must never reshuffle the fact
# side: a NULL-safe (<=>) or re-keyed join back adds an exchange here.
_CHUNKED_EXCHANGES = {
    "salted_rolling": 1,
    "salted_cumsum": 3,
    "salted_ffill": 3,
    "asof_salted": 5,
    "trailing_window": 1,
    "response_latency": 1,
    "time_decay": 4,
    "ewma_mean": 10,
    "target_encode": 4,
    "novelty_split": 6,
    "quantile_bin": 11,
    "weighted_percentile": 10,
    "turn_features_salted": 7,
}


@pytest.mark.parametrize("name", list(_CHUNKED_EXCHANGES))
def test_chunked_plans_add_no_exchange(spark, entry_mod, monkeypatch, name):
    import re

    from acoustic_feature_extractor_spark.datagen import generate_transcripts
    from acoustic_feature_extractor_spark.operators import skew
    from acoustic_feature_extractor_spark.plans.pipeline import turn_features

    # skew.py owns every join back, so one patch unhints all of them
    monkeypatch.setattr(skew, "maybe_broadcast", lambda df, *a, **k: df)
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        if name == "turn_features_salted":
            t = generate_transcripts(spark, n_convs=20)
            df = turn_features(t, salt_above=1000, chunk_rows=512)
        else:
            df = entry_mod.queries()[name](spark, SF)
        plan = _plan(df)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert ex <= _CHUNKED_EXCHANGES[name], f"{name}: {ex} exchanges\n{plan}"
