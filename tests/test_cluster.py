"""connected_components / dedup_clusters vs a driver-side union-find."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.cluster import (
    connected_components,
    dedup_clusters,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df).collect()
    return {r["node"]: r["component"] for r in out}


def test_chain_collapses_to_min(spark):
    # 0-1-2-...-9: one component, needs multi-round propagation
    got = _run(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_two_components_and_self_loop(spark):
    edges = [(1, 2), (2, 3), (10, 11), (5, 5)]
    got = _run(spark, edges)
    # the self-loop-only node has no real edge -> absent from the output
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _uf_components(edges)


def test_long_chain_converges_log_rounds(spark):
    # pointer jumping: a 64-node path must converge well within 30 rounds
    got = _run(spark, [(i, i + 1) for i in range(63)])
    assert set(got.values()) == {0} and len(got) == 64


def test_nonconvergence_raises(spark, monkeypatch):
    from acoustic_feature_extractor_spark.operators import cluster

    monkeypatch.setattr(cluster, "_MAX_ROUNDS", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(20)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df)


def test_dedup_clusters_column_contract(spark):
    df = spark.createDataFrame([(3, 9), (9, 4)], "id_a long, id_b long")
    out = dedup_clusters(df)
    assert out.columns == ["doc_id", "cluster_id"]
    rows = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert rows == {(3, 3), (9, 3), (4, 3)}


def test_string_ids_match_union_find(spark):
    # ADVICE r2: string doc ids previously threw CAST_INVALID_INPUT under
    # ANSI mode — the surrogate-id path must give the same clusters with
    # component = lexicographic-min original id.
    rng = random.Random(11)
    names = [f"doc-{i:03d}" for i in range(60)]
    edges = [(rng.choice(names), rng.choice(names)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    # driver-side oracle on strings (min = lexicographic via the same tuple order)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


def test_string_ids_chain_and_layout_invariance(spark):
    names = [f"u-{i:02d}" for i in range(16)]
    edges = [(names[i], names[i + 1]) for i in range(15)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    a = {(r.node, r.component) for r in connected_components(df).collect()}
    assert a == {(n, "u-00") for n in names}
    b = {
        (r.node, r.component)
        for r in connected_components(df.repartition(7)).collect()
    }
    assert a == b


def test_dedup_clusters_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], "id_a string, id_b string"
    )
    rows = {(r.doc_id, r.cluster_id) for r in dedup_clusters(df).collect()}
    assert rows == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_partition_layout_invariance(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(0, 2), (4, 6)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {(r.node, r.component) for r in connected_components(df).collect()}
    b = {
        (r.node, r.component)
        for r in connected_components(df.repartition(13)).collect()
    }
    assert a == b
