"""Similarity search vs numpy brute-force oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    embedding_neardup_pairs,
)

DIM = 16


def _emb(spark, n=60, seed=41):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, DIM)
    # plant a near-duplicate pair
    vecs[1] = vecs[0] + rng.randn(DIM) * 0.01
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in vecs]})
    return spark.createDataFrame(pdf), vecs


def test_cosine_topk_matches_numpy(spark):
    df, vecs = _emb(spark)
    q = df.where("vec_id < 5")
    got = cosine_topk(q, df, k=3).toPandas()
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    for qid in range(5):
        scores = cos[qid].copy()
        scores[qid] = -np.inf
        order = np.lexsort((np.arange(len(scores)), -scores))[:3]
        exp = list(order)
        g = got[got.query_id == qid].sort_values("rank")["neighbor_id"].tolist()
        assert g == exp, (qid, g, exp)


def test_lsh_bucket_recall_on_neardup(spark):
    """The planted near-duplicate (cos ~0.9999) must land in the same LSH
    bucket and be retrieved as the top neighbor."""
    df, vecs = _emb(spark)
    q = df.where("vec_id = 0")
    got = cosine_topk_lsh(q, df, dim=DIM, k=1, n_planes=4).collect()
    assert len(got) == 1 and got[0]["neighbor_id"] == 1


def test_embedding_neardup_pairs(spark):
    df, vecs = _emb(spark)
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(df, dim=DIM, threshold=0.99, n_planes=4).collect()}
    assert (0, 1) in pairs
    for a, b in pairs:
        cos = vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        assert cos >= 0.99


def test_ivf_full_probe_equals_bruteforce(spark):
    """n_probe = n_centroids degrades to exact brute force."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        pick_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    exact = cosine_topk(q, e, k=5).orderBy("query_id", "rank").collect()
    ivf = (
        cosine_topk_ivf(q, e, k=5, n_probe=4, centroids=pick_centroids(e, n_centroids=4))
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["neighbor_id"]) for r in exact] == [
        (r["query_id"], r["neighbor_id"]) for r in ivf
    ]


def test_ivf_partial_probe_recall(spark):
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        pick_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, e, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(
            q, e, k=5, n_probe=3, centroids=pick_centroids(e, n_centroids=8)
        ).collect()
    }
    # partial probe: meaningful overlap with the exact answer, full row count
    assert len(approx) == len(exact)
    assert len(exact & approx) / len(exact) >= 0.3


def test_blocked_neardup_equals_broadcast_exact(spark):
    """The distributed block-matrix all-pairs must emit exactly the same
    (id_a, id_b, cos) set as the broadcast verify primitive, across block
    counts (incl. n_blocks=1 and more blocks than occupied buckets)."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        embedding_neardup_blocked,
        embedding_neardup_exact,
    )

    df, vecs = _emb(spark, n=80, seed=13)
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_exact(df, threshold=0.2).collect()
    }
    assert exact  # non-trivial fixture
    for n_blocks in (1, 3, 8):
        got = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in embedding_neardup_blocked(
                df, threshold=0.2, n_blocks=n_blocks
            ).collect()
        }
        assert set(got) == set(exact), n_blocks
        for k in exact:
            assert np.isclose(got[k], exact[k], atol=1e-6), (n_blocks, k)


def test_exact_neardup_driver_cap(spark):
    """The broadcast verify primitive refuses to materialize a corpus
    larger than max_driver_rows on the driver."""
    import pytest

    from acoustic_feature_extractor_spark.operators.similarity import (
        embedding_neardup_exact,
    )

    df, _ = _emb(spark, n=30)
    with pytest.raises(AssertionError, match="max_driver_rows"):
        embedding_neardup_exact(df, threshold=0.9, max_driver_rows=10)


def test_lsh_full_probe_equals_bruteforce(spark):
    """probe_hamming = n_planes probes every bucket -> exact brute force
    (the identity that lets the driver oracle the LSH machinery)."""
    df, vecs = _emb(spark)
    q = df.where("vec_id < 5")
    exact = [
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in cosine_topk(q, df, k=4).orderBy("query_id", "rank").collect()
    ]
    full_probe = [
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in cosine_topk_lsh(
            q, df, dim=DIM, k=4, n_planes=4, probe_hamming=4
        ).orderBy("query_id", "rank").collect()
    ]
    assert full_probe == exact


def test_lsh_partial_probe_recall_improves(spark):
    """Multi-probe at hamming 1 retrieves at least as much of the exact
    answer as single-bucket probing."""
    df, vecs = _emb(spark, n=100, seed=5)
    q = df.where("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, df, k=3).collect()
    }

    def recall(h):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_lsh(
                q, df, dim=DIM, k=3, n_planes=4, probe_hamming=h
            ).collect()
        }
        return len(got & exact) / len(exact)

    assert recall(1) >= recall(0)
    assert recall(4) == 1.0


def test_ivf_at_rest_matches_in_memory(spark, tmp_path):
    """The materialized (partitioned-by-list) index must return exactly
    the in-memory IVF results for the same centroids, and its scan must
    carry a _cid partition filter (pruned directories, not a full read)."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_at_rest,
        ivf_index_write,
        pick_centroids,
    )

    corpus, _ = _emb(spark, n=300, seed=3)
    queries = corpus.where("vec_id < 12")
    cents = pick_centroids(corpus, n_centroids=8)

    path = str(tmp_path / "ivf")
    ivf_index_write(corpus, path, cents)

    got = cosine_topk_ivf_at_rest(
        spark, path, queries, cents, k=4, n_probe=2
    )
    want = cosine_topk_ivf(queries, corpus, k=4, n_probe=2, centroids=cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cid" in plan


def test_embedding_label_outliers_matches_numpy(spark):
    """Per-label centroid cosine must equal the numpy computation, and a
    planted far-from-cluster vector must flag as the outlier."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        embedding_label_outliers,
    )

    rng = np.random.RandomState(7)
    # two tight clusters + one planted outlier assigned to label 0
    c0 = rng.randn(DIM) * 0.1 + 5.0
    c1 = rng.randn(DIM) * 0.1 - 5.0
    vecs = np.vstack(
        [c0 + rng.randn(20, DIM) * 0.05, c1 + rng.randn(20, DIM) * 0.05, [-c0]]
    )
    labels = [0] * 20 + [1] * 20 + [0]
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v.tolist() for v in vecs],
            "label": labels,
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        embedding_label_outliers(df, threshold=0.5)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    for lbl in (0, 1):
        m = vecs[np.array(labels) == lbl].mean(axis=0)
        m = m / np.linalg.norm(m)
        for i in np.nonzero(np.array(labels) == lbl)[0]:
            exp = vecs[i] @ m / (np.linalg.norm(vecs[i]) * np.linalg.norm(m))
            assert abs(got.loc[i, "cos_centroid"] - exp) < 1e-9
    flagged = set(got[got.is_outlier].index)
    assert flagged == {40}  # only the planted anti-cluster vector


def test_embedding_label_outliers_zero_vector(spark):
    from acoustic_feature_extractor_spark.operators.similarity import (
        embedding_label_outliers,
    )

    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1],
            "embedding": [[1.0, 0.0], [0.0, 0.0]],
            "label": [0, 0],
        }
    )
    got = (
        embedding_label_outliers(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("vec_id")
    )
    assert pd.isna(got.loc[1, "cos_centroid"])
    assert bool(got.loc[1, "is_outlier"])  # null similarity flags as outlier


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ)
# ---------------------------------------------------------------------------


def test_pq_train_shapes_and_validation(spark):
    from acoustic_feature_extractor_spark.operators.similarity import pq_train

    df, _ = _emb(spark)
    books = pq_train(df, m=4, pq_k=8, n_iter=2)
    assert len(books) == 4
    assert all(len(b) == 8 for b in books)
    assert all(len(c) == DIM // 4 for b in books for c in b)
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=5)


def test_pq_encode_codes_valid_and_deterministic(spark):
    from acoustic_feature_extractor_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    df, _ = _emb(spark)
    books = pq_train(df, m=4, pq_k=8, n_iter=2)
    enc1 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    enc2 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert enc1 == enc2
    for codes in enc1.values():
        assert len(codes) == 4 and all(0 <= c < 8 for c in codes)
    # the planted near-duplicate pair must share every code
    assert enc1[0] == enc1[1]


def test_pq_score_equals_reconstructed_dot(spark):
    """The LUT-scored approx similarity must equal dot(unit(q),
    concat(chosen sub-centroids)) — the PQ contract, checked per pair."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk_ivfpq,
        pq_encode,
        pq_train,
    )

    df, vecs = _emb(spark, n=40)
    books = pq_train(df, m=4, pq_k=8, n_iter=2)
    codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    got = cosine_topk_ivfpq(
        df.where("vec_id < 3"),
        df,
        k=4,
        n_centroids=2,
        n_probe=2,  # full probe -> every candidate scored
        refine_factor=None,
        codebooks=books,
    ).collect()
    units = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sub = DIM // 4
    for r in got:
        recon = np.concatenate(
            [books[j][codes[r["neighbor_id"]][j]] for j in range(4)]
        )
        exp = float(units[r["query_id"]] @ recon)
        assert abs(r["cos_sim"] - round(exp, 6)) <= 1e-6, (r, exp)


def test_ivfpq_full_probe_big_refine_equals_bruteforce(spark):
    """n_probe = n_centroids and a shortlist covering the corpus: the PQ
    path degrades to EXACT brute force (the re-rank sees every candidate,
    scored by true cosine)."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq,
    )

    df, _ = _emb(spark)
    q = df.where("vec_id < 5")
    exact = cosine_topk(q, df, k=3).orderBy("query_id", "rank").collect()
    pq = (
        cosine_topk_ivfpq(
            q, df, k=3, n_centroids=2, n_probe=2, m=4, pq_k=8, refine_factor=30
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in exact] == [
        (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in pq
    ]


def test_ivfpq_partial_probe_recall(spark):
    """Partial probe + modest refine still recovers most true neighbors
    on the driver-style embeddings (deterministic fixture)."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, e, k=5).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivfpq(
            q, e, k=5, n_centroids=4, n_probe=2, m=8, pq_k=16, refine_factor=4
        ).collect()
    }
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.4, recall


def test_ivfpq_residual_full_probe_big_refine_equals_bruteforce(spark):
    """Residual (IVFADC) mode degrades to exact brute force under full
    probe + corpus-wide refine, same as raw mode."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq,
    )

    df, _ = _emb(spark)
    q = df.where("vec_id < 5")
    exact = cosine_topk(q, df, k=3).orderBy("query_id", "rank").collect()
    pq = (
        cosine_topk_ivfpq(
            q, df, k=3, n_centroids=2, n_probe=2, m=4, pq_k=8,
            refine_factor=30, residual=True,
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in exact] == [
        (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in pq
    ]


def test_ivfpq_residual_score_decomposition(spark):
    """Residual scoring must equal dot(unit(q), c(list) + concat(chosen
    residual sub-centroids)) — the IVFADC anchor + LUT identity."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        _unit_rows,
        cosine_topk_ivfpq,
        pick_centroids,
        pq_train,
    )

    df, vecs = _emb(spark, n=40)
    cents = pick_centroids(df, n_centroids=2)
    books = pq_train(df, m=4, pq_k=8, n_iter=2, residual_of=cents)
    got = cosine_topk_ivfpq(
        df.where("vec_id < 3"), df, k=4, n_probe=2, refine_factor=None,
        centroids=cents, codebooks=books, residual=True,
    ).collect()
    units = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cu = np.array(_unit_rows(cents))
    # recompute each neighbor's assignment + residual codes in numpy
    for r in got:
        x = units[r["neighbor_id"]]
        cid = int(np.argmax(cu @ x))
        resid = x - cu[cid]
        recon = cu[cid].copy()
        sub = len(x) // 4
        parts = []
        for j in range(4):
            s = resid[j * sub : (j + 1) * sub]
            cb = np.array(books[j])
            code = int(np.argmin(((cb - s) ** 2).sum(axis=1)))
            parts.append(cb[code])
        recon = cu[cid] + np.concatenate(parts)
        exp = float(units[r["query_id"]] @ recon)
        assert abs(r["cos_sim"] - round(exp, 6)) <= 1e-6, (r, exp)


def test_ivf_append_matches_rebuild(spark, tmp_path):
    """Incremental IVF maintenance: write the index on a base slice,
    append the rest with the frozen centroids — PARTIAL-probe queries
    must equal the same queries on a from-scratch rebuild over the full
    corpus (appended files land in the same ``_cid=`` dirs the pruned
    scan reads)."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk_ivf_at_rest,
        ivf_index_append,
        ivf_index_write,
        pick_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = pick_centroids(e, n_centroids=8)
    incr = str(tmp_path / "ivf_incr")
    ivf_index_write(e.where(F.col("vec_id") % 3 != 0), incr, cents)
    ivf_index_append(e.where(F.col("vec_id") % 3 == 0), incr, cents)
    full = str(tmp_path / "ivf_full")
    ivf_index_write(e, full, cents)
    q = e.where(F.col("vec_id") < 8)

    def canon(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in df.collect()
        )

    for n_probe in (2, 4):
        a = canon(cosine_topk_ivf_at_rest(spark, incr, q, cents, k=5, n_probe=n_probe))
        b = canon(cosine_topk_ivf_at_rest(spark, full, q, cents, k=5, n_probe=n_probe))
        assert a == b and len(a) == 40


def test_ivfpq_residual_beats_raw_on_clustered_corpus(spark):
    """IVFADC's promise (Jégou et al. 2011) holds when the corpus is
    actually CLUSTERED: with identical (n_centroids, m, pq_k) budget,
    full probe and no refine (so the emitted ``cos_sim`` IS the PQ
    approximation), residual codes reconstruct true cosine ~3x more
    accurately than raw-direction codes on tight clusters — residuals
    concentrate, so the same codebook budget quantizes with less error.
    Metric = mean |pq_score − true cosine| over the FULL ranking (ties
    in top-k recall made that metric too noisy to pin). The driver's
    near-uniform synthetic embeddings lack this structure, which is why
    the shipped `ann_ivfpq` query uses raw mode (measured there: raw
    recall > residual, `operators/similarity.py` docstring); this pins
    the opposite, clustered regime so the mode choice stays
    evidence-based in both directions."""
    from acoustic_feature_extractor_spark.operators.similarity import (
        cosine_topk_ivfpq,
    )

    rng = np.random.RandomState(7)
    n_clusters, per, dim = 8, 25, 32
    centers = rng.randn(n_clusters, dim) * 3.0
    vecs = np.vstack(
        [centers[c] + rng.randn(per, dim) * 0.1 for c in range(n_clusters)]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.where(f"vec_id % {per} < 2")  # two queries per cluster
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)

    def score_err(residual: bool) -> float:
        rows = cosine_topk_ivfpq(
            q,
            df,
            k=len(vecs) - 1,  # full ranking: every candidate scored
            n_centroids=n_clusters,
            n_probe=n_clusters,
            m=8,
            pq_k=16,
            refine_factor=None,
            residual=residual,
        ).collect()
        return float(
            np.mean(
                [
                    abs(r["cos_sim"] - cos[r["query_id"], r["neighbor_id"]])
                    for r in rows
                ]
            )
        )

    e_raw, e_res = score_err(False), score_err(True)
    # measured: raw 0.0111, residual 0.0037 — assert with headroom
    assert e_res <= 0.6 * e_raw, (e_res, e_raw)
    assert e_res < 0.008, (e_res, e_raw)
