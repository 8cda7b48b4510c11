"""Transitive closure of duplicate pairs → clusters (connected components).

The last step of every near-dup pipeline: the pair lists produced by
minhash/simhash/n-gram-Jaccard/embedding blocking (``operators/dedup.py``,
``operators/similarity.py``) are transitively closed into clusters so one
canonical representative per cluster survives.  A is a near-dup of B and
B of C without A~C being a pair — pair-level dedup alone would keep both
A and C.

Beyond the reference's scope (it dedups nothing) but first-class for the
100 TB use case, like the rest of the dedup suite.

Scale notes:
- hash-min label propagation **with pointer jumping** — converges in
  O(log diameter) rounds, not O(diameter): each round a node takes the
  min label over itself and its neighbours, then jumps to its label's
  label (path halving).  Web-corpus duplicate components are shallow
  (most are cliques from a common template), so 2-4 rounds is typical.
- the label table holds ONLY nodes with >= 1 duplicate edge — a small
  fraction of the corpus; singleton docs never enter the loop.
- per round: one equi-join of the persisted edge table with the labels
  + a map-side combine groupBy + one self-join for the jump — the label
  joins go through the size-gated broadcast hint, so at test/SF scale
  they are broadcast (zero extra shuffles) and at web scale Catalyst
  falls back to shuffle joins.
- ONE action per round: the convergence probe is a (decimal-exact)
  checksum aggregate, not a join — comp is element-wise non-increasing,
  so sum(comp) is strictly decreasing until the fixpoint.
- each round ends in ``localCheckpoint``: iterative plans otherwise
  grow ~3x per round (three references to the previous labels) and
  Catalyst re-analysis goes exponential — the classic iterative-Spark
  trap.  Checkpointing truncates lineage so round N's plan is O(1), at
  the cost of holding one materialized label table per live round
  (previous rounds are freed by GC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.plans.cache import tracked_persist
from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

# hash-min + pointer jumping bounds component diameter at ~2^rounds
_MAX_ROUNDS = 30


def _check_cols() -> list[F.Column]:
    # exact checksum even at 10^12 nodes x int64 ids (10^31 < 10^38)
    return [
        F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("c"),
    ]


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node in the ``(id_a, id_b)`` ``edges``;
    component = min id
    (numeric order for integer ids, the column's native order — e.g.
    lexicographic for strings — otherwise).

    Edges are treated as undirected; self-loops are ignored.  Raises if
    no fixpoint is reached in ``_MAX_ROUNDS`` rounds (with pointer jumping
    that bounds component diameter at ~2^30 — unreachable for any real
    duplicate graph).

    Non-integer ids (string doc ids, UUIDs) run the same long-keyed loop
    over a surrogate-id mapping: hashing to long would silently merge
    clusters on collisions at corpus scale (birthday bound ~2^32 docs),
    and the previous ``cast("long")`` threw CAST_INVALID_INPUT under ANSI
    mode — so surrogates come from ``monotonically_increasing_id`` over
    the distinct node set, PINNED by an eager localCheckpoint (the id is
    partition-layout-dependent and must never be recomputed), and the
    final labels are re-canonicalized to the min ORIGINAL id per
    component, preserving the contract exactly.
    """
    int_types = ("tinyint", "smallint", "int", "bigint")
    src_t = edges.schema["id_a"].dataType.simpleString()
    dst_t = edges.schema["id_b"].dataType.simpleString()
    if src_t in int_types and dst_t in int_types:
        sym = edges.select(
            F.col("id_a").cast("long").alias("n"), F.col("id_b").cast("long").alias("m")
        )
        return _cc_long(sym).select("node", F.col("comp").alias("component"))

    raw = edges.select(F.col("id_a").alias("n"), F.col("id_b").alias("m"))
    raw = (
        raw.union(raw.select(F.col("m").alias("n"), F.col("n").alias("m")))
        .where(F.col("n").isNotNull() & F.col("m").isNotNull() & (F.col("n") != F.col("m")))
        .distinct()
    )
    raw = tracked_persist(raw)
    # raw is already symmetric, so every node appears on the n side
    mapping = (
        raw.select(F.col("n").alias("orig"))
        .distinct()
        .withColumn("_sid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)  # pin: never recompute surrogate ids
    )
    sym = (
        raw.join(mapping.select(F.col("orig").alias("n"), F.col("_sid").alias("_sn")), "n")
        .join(mapping.select(F.col("orig").alias("m"), F.col("_sid").alias("_sm")), "m")
        .select(F.col("_sn").alias("n"), F.col("_sm").alias("m"))
    )
    labels = _cc_long(sym)
    raw.unpersist()
    lab = labels.join(
        mapping.select(F.col("_sid").alias("node"), "orig"), "node"
    ).select("orig", F.col("comp").alias("_scomp"))
    # canonical label = min ORIGINAL id per component (native ordering) —
    # one row per component, fact-scaled worst case → estimate-gated hint
    canon = lab.groupBy("_scomp").agg(F.min("orig").alias("component"))
    return (
        lab.join(maybe_broadcast(canon), "_scomp")
        .select(F.col("orig").alias("node"), "component")
    )


def _cc_long(sym: DataFrame) -> DataFrame:
    """Hash-min + pointer-jump loop over long-typed edges (n, m) —
    symmetrizes, dedups, iterates to fixpoint. Returns (node, comp)."""
    sym = (
        sym.union(sym.select(F.col("m").alias("n"), F.col("n").alias("m")))
        .where(F.col("n").isNotNull() & F.col("m").isNotNull() & (F.col("n") != F.col("m")))
        .distinct()
    )
    sym = tracked_persist(sym)
    # round 0 fused into the init: comp0(n) = min(n, min neighbour)
    labels = (
        sym.groupBy("n")
        .agg(F.min("m").alias("_mn"))
        .select(F.col("n").alias("node"), F.least("n", "_mn").alias("comp"))
        .localCheckpoint(eager=False)
    )
    prev = tuple(labels.agg(*_check_cols()).first())
    converged = False
    # tracked_persist registers sym so a raise below (no fixpoint)
    # still lets the driver reclaim it via release_persisted()
    # NO maybe_broadcast inside the loop: the label frames are node-scaled
    # (a static hint would be wrong at corpus scale — AQE's runtime shuffle
    # sizes decide instead), and a Catalyst stats probe per round is a
    # driver hazard — each round references `labels` three times, so on an
    # un-truncated plan the size estimate SQUARES per round and the py4j
    # BigInt→string conversion of sizeInBytes wedges the driver for
    # minutes (observed 750+ s). Same reason the checkpoint below must be
    # EAGER: only an eager localCheckpoint rebases the logical plan on the
    # materialized RDD; eager=False keeps full lineage and re-plans an
    # exponentially growing tree every round.
    for _ in range(_MAX_ROUNDS):
        # hash-min step: comp'(n) = min(comp(n), min over neighbours m of comp(m))
        nbmin = (
            sym.join(
                labels.select(F.col("node").alias("m"), F.col("comp").alias("mcomp")),
                "m",
            )
            .groupBy("n")
            .agg(F.min("mcomp").alias("nbmin"))
            .select(F.col("n").alias("node"), "nbmin")
        )
        stepped = labels.join(nbmin, "node", "left").select(
            "node", F.least(F.col("comp"), F.coalesce(F.col("nbmin"), F.col("comp"))).alias("comp")
        )
        # pointer jump: comp''(n) = min(comp'(n), comp(comp'(n)))
        jump = labels.select(F.col("node").alias("jnode"), F.col("comp").alias("jcomp"))
        new = (
            stepped.join(jump, stepped["comp"] == jump["jnode"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("jcomp"), F.col("comp"))).alias("comp"),
            )
            .localCheckpoint(eager=True)  # truncate lineage NOW (see above)
        )
        cur = tuple(new.agg(*_check_cols()).first())
        labels = new
        if cur == prev:
            converged = True
            break
        prev = cur
    sym.unpersist()
    if not converged:
        raise RuntimeError(f"connected_components: no fixpoint within {_MAX_ROUNDS} rounds")
    return labels.select("node", "comp")


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every doc in >= 1 (id_a, id_b) duplicate pair.

    cluster_id = min doc_id of the transitive component — the canonical
    survivor; ``doc_id != cluster_id`` rows are the deletions.  Compose
    with any pair generator from ``operators/dedup.py``.
    """
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
