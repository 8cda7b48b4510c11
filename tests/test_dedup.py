"""Dedup operators on constructed near-duplicate corpora."""

from __future__ import annotations

import numpy as np
import pandas as pd

from acoustic_feature_extractor_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
    (3, "completely different text about spark window functions and shuffle partitions"),
    (4, "another unrelated document discussing broadcast joins and adaptive execution"),
    (5, "the quick brown fox jumps over the lazy cat near the river bank today"),  # near dup
]


def _docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def _jaccard(a: str, b: str, w=3) -> float:
    def sh(t):
        toks = t.lower().split()
        return set(" ".join(toks[i : i + w]) for i in range(max(len(toks) - w + 1, 1)))

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark):
    out = sorted(r["doc_id"] for r in exact_dedup(_docs(spark)).collect())
    assert out == [0, 2, 3, 4, 5]  # doc 1 (exact dup of 0) removed, min-id kept


def test_ngram_jaccard_matches_bruteforce(spark):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.4).collect()
    }
    exp = {}
    for i, (ia, ta) in enumerate(DOCS):
        for ib, tb in DOCS[i + 1 :]:
            j = _jaccard(ta, tb)
            if j >= 0.4:
                exp[(ia, ib)] = j
    assert set(got) == set(exp)
    for k in exp:
        assert np.isclose(got[k], exp[k], rtol=1e-9)


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(_docs(spark), threshold=0.4, num_hashes=64, bands=32).collect()
    }
    # the exact duplicate pair must always collide in every band
    assert (0, 1) in pairs
    # verified jaccard filter keeps only true near-dups
    for a, b in pairs:
        assert _jaccard(DOCS[a][1], DOCS[b][1]) >= 0.4


def test_simhash_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(_docs(spark), max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0  # identical text -> identical simhash
    # unrelated docs must not appear at small radius
    assert (3, 4) not in pairs


def test_simhash_long_docs_not_dropped(spark):
    """Docs past the old 16-bit-lane cap (32767 tokens) must still get a
    fingerprint and appear in near-dup pairs — the 32-bit-lane SWAR is
    exact to 2^30 tokens (regression for the silent long-doc null)."""
    from acoustic_feature_extractor_spark.operators.dedup import simhash

    base = " ".join(f"tok{i % 997}" for i in range(40_000))
    near = base + " extra trailing tokens here"
    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, "tiny unrelated"]})
    df = spark.createDataFrame(pdf)
    fps = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert all(fps[i] is not None for i in range(3))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df, max_hamming=8).collect()}
    assert (0, 1) in pairs  # long near-dups detected
    # exactness: SWAR fingerprint == per-bit reference vote on the long doc
    tok_rows = (
        df.where("doc_id = 0")
        .selectExpr("explode(split(lower(trim(text)), '\\\\s+')) AS t")
        .selectExpr("xxhash64(t) AS h")
        .collect()
    )
    # xxhash64 values are signed: reinterpret their bits as unsigned
    hs = np.array([r["h"] for r in tok_rows], dtype=np.int64).view(np.uint64)
    ref = 0
    for j in range(64):
        if int(((hs >> np.uint64(j)) & np.uint64(1)).sum()) * 2 > len(hs):
            ref |= 1 << j
    assert fps[0] == np.int64(np.uint64(ref)).item()


def test_minhash_r1_banding_total_recall(spark):
    """r=1 banding (64 bands of one hash) has provably-total recall on
    the driver fixtures: every true pair at jaccard >= 0.5 shares at
    least one minhash value, so the LSH output EQUALS the exact-Jaccard
    pair set — the identity that lets the DuckDB exact SQL oracle the
    dedup_minhash query. Checked on the constructed corpus and, when
    present, the sf0.01 documents table the driver grades against."""
    import os

    def check(df, threshold):
        # 32/32 = the exact parameters q_dedup_minhash ships
        lsh = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                df, threshold=threshold, num_hashes=32, bands=32
            ).collect()
        }
        exact = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
        }
        assert lsh == exact

    check(_docs(spark), 0.4)
    sf = "/root/testdata/sf0.01/documents.parquet"
    if os.path.exists(sf):
        check(spark.read.parquet(sf), 0.5)


def test_simhash_portable_hash_variant(spark):
    """The SQL-portable polynomial token hash yields the same qualitative
    behavior as the xxhash64 default: exact dups at hamming 0, unrelated
    docs excluded at small radius — and bits=62 banding still partitions
    every bit (pair search ≡ all-pairs verify)."""
    from acoustic_feature_extractor_spark.operators.dedup import (
        simhash,
        token_hash_portable,
    )

    d = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            d, max_hamming=8, bits=62, hash_fn=token_hash_portable
        ).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert (3, 4) not in pairs
    # fingerprints stay below 2^62 (exact int64 in any engine)
    fps = [r["simhash"] for r in simhash(d, bits=62, hash_fn=token_hash_portable).collect()]
    assert all(0 <= f < (1 << 62) for f in fps)


def test_ngram_prefix_filter_lossless(spark):
    """The PPJoin prefix filter must lose NO pair vs a filter-free exact
    jaccard over all co-shingle pairs — including thresholds whose t*n
    product is float-inexact (0.8*5 = 4.000000000000001)."""
    import itertools

    import pandas as pd

    from acoustic_feature_extractor_spark.operators.dedup import (
        tokenize,
        word_shingles,
    )
    from pyspark.sql import functions as F

    rng = __import__("random").Random(13)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n = rng.randint(3, 12)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # near-dup planted pairs
    for i in range(40, 48):
        base = docs[i - 40][1]
        docs.append((i, base + " extra"))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))

    sets = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", word_shingles(tokenize(F.col("text")), 3).alias("s")
        ).collect()
    }

    for t in (0.4, 0.5, 0.8):
        want = set()
        for (ia, sa), (ib, sb) in itertools.combinations(sorted(sets.items()), 2):
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want.add((ia, ib))
        got = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        }
        assert got == want, f"threshold {t}: {want - got} lost / {got - want} extra"


def test_contamination_pairs_bruteforce(spark):
    """contamination_pairs == brute-force shared-w-shingle count."""
    import itertools

    from acoustic_feature_extractor_spark.operators.dedup import contamination_pairs

    rng = __import__("random").Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 20))))
        for i in range(30)
    ]
    # plant contamination: trains 30-33 embed benchmark doc 2's text
    for i in range(30, 34):
        docs.append((i, docs[2][1] + " trailing tokens here"))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    bench = df.where(df.doc_id % 3 == 2)
    train = df.where(df.doc_id % 3 != 2)

    w = 4

    def sh(t):
        toks = t.lower().split()
        return set(
            " ".join(toks[i : i + w]) for i in range(max(len(toks) - w + 1, 1))
        )

    shingles = {i: sh(t) for i, t in docs}
    want = {}
    for ti, _ in docs:
        if ti % 3 == 2:
            continue
        for bi, _ in docs:
            if bi % 3 != 2:
                continue
            shared = len(shingles[ti] & shingles[bi])
            if shared >= 1:
                want[(ti, bi)] = shared

    got = {
        (r["train_id"], r["bench_id"]): r["shared"]
        for r in contamination_pairs(train, bench, w=w).collect()
    }
    assert got == want
    assert want, "fixture must actually plant contamination"


def test_duplicated_spans_bruteforce(spark):
    """duplicated_spans == brute-force hot-window run merge; stats agree."""
    from acoustic_feature_extractor_spark.operators.dedup import (
        duplicated_spans,
        span_dup_stats,
    )

    rng = __import__("random").Random(11)
    vocab = [f"w{i}" for i in range(200)]
    boiler = "please see the attached terms and conditions for details"
    docs = []
    for i in range(25):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40)))
        if i % 3 == 0:  # plant a repeated 9-token span mid-doc
            body = body + " " + boiler + " " + body[: len(body) // 2]
        docs.append((i, body))
    docs.append((25, "short doc"))  # < w tokens: no windows, no spans
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    w, mc = 5, 2

    # brute force
    toks = {i: t.lower().split() for i, t in docs}
    from collections import Counter

    cnt = Counter()
    for i, tk in toks.items():
        for p in range(len(tk) - w + 1):
            cnt[" ".join(tk[p : p + w])] += 1
    want = set()
    for i, tk in toks.items():
        hot = [p for p in range(len(tk) - w + 1) if cnt[" ".join(tk[p : p + w])] >= mc]
        run = []
        for p in hot:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.add((i, run[0], run[-1] + w - 1))
                run = [p]
        if run:
            want.add((i, run[0], run[-1] + w - 1))

    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, w=w, min_count=mc).collect()
    }
    assert got == want
    assert want, "fixture must plant duplicated spans"

    stats = {
        r["doc_id"]: (r["total_tokens"], r["dup_tokens"], r["n_spans"])
        for r in span_dup_stats(df, w=w, min_count=mc).collect()
    }
    assert set(stats) == {i for i, _ in docs}
    for i, tk in toks.items():
        spans = [(s, e) for (d, s, e) in want if d == i]
        assert stats[i] == (
            len(tk),
            sum(e - s + 1 for s, e in spans),
            len(spans),
        )


def test_cut_duplicated_spans_keep_one(spark):
    """Every duplicated span content keeps exactly its canonical
    (min doc_id, span_start) occurrence; all other copies are excised."""
    from acoustic_feature_extractor_spark.operators.dedup import (
        cut_duplicated_spans,
        duplicated_spans,
    )

    boiler = "one two three four five six"  # 6 tokens, w=5 -> hot windows
    docs = [
        (0, f"alpha beta {boiler} gamma delta"),
        (1, f"Epsilon {boiler.upper()} zeta eta theta iota"),  # case-folded match
        (2, f"kappa lam mu nu xi omicron pi rho {boiler}"),
        (3, "unique text with no repeats whatsoever in this corpus here"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    w, mc = 5, 2

    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, w=w, min_count=mc).collect()
    }
    # the boiler span occurs in docs 0,1,2 at known positions
    assert spans == {(0, 2, 7), (1, 1, 6), (2, 8, 13)}

    out = {
        r["doc_id"]: (r["clean_text"], r["removed_tokens"], r["total_tokens"])
        for r in cut_duplicated_spans(df, w=w, min_count=mc).collect()
    }
    # doc 0 is canonical (min id, start): keeps the boiler; matching is
    # case-folded but surviving text preserves the original case
    assert out[0] == (docs[0][1], 0, 10)
    assert out[1] == ("Epsilon zeta eta theta iota", 6, 11)
    assert out[2] == ("kappa lam mu nu xi omicron pi rho", 6, 14)
    assert out[3] == (docs[3][1], 0, 10)
