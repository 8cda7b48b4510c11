"""Text-analysis functions vs python oracles."""

from __future__ import annotations

import pandas as pd

from acoustic_feature_extractor_spark.functions.text import STOPWORDS, document_profile


def _fingerprint_py(text: str) -> int:
    toks = text.lower().strip().split()
    total = 0
    for i, t in enumerate(toks, start=1):
        total += i * (len(t) * 256 + ord(t[0]))
    return total % 2147483647


def test_document_profile_oracle(spark):
    docs = [
        (0, "The quick brown fox, it is said, jumps over the lazy dog!"),
        (1, "der Hund ist nicht mit der Katze und das ist gut"),
        (2, "xyzzy plugh 12345 !!!"),
        (3, "le chat est dans la maison et les oiseaux ne sont pas"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    out = {r["doc_id"]: r.asDict() for r in document_profile(df).collect()}

    for doc_id, text in docs:
        toks = text.lower().strip().split()
        assert out[doc_id]["n_tokens"] == len(toks)
        assert out[doc_id]["fingerprint"] == _fingerprint_py(text)
        sw_hits = len(set(toks) & set(STOPWORDS["en"]))
        assert abs(out[doc_id]["stopword_ratio"] - sw_hits / 10.0) < 1e-6

    assert out[0]["lang_guess"] == "en"
    assert out[1]["lang_guess"] == "de"
    assert out[2]["lang_guess"] == "und"
    assert out[3]["lang_guess"] == "fr"
    # quality ordering: clean english sentence > garbage
    assert out[0]["quality"] > out[2]["quality"]


def test_tfidf_top_terms(spark):
    import math

    from acoustic_feature_extractor_spark.functions.text import tfidf_top_terms

    docs = [
        (0, "apple apple banana common common common"),
        (1, "banana cherry common common"),
        (2, "cherry cherry cherry common durian"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    out = tfidf_top_terms(df, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in out}

    n = len(docs)
    dfreq = {"apple": 1, "banana": 2, "cherry": 2, "common": 3, "durian": 1}

    def score(tf, term):
        return tf * (math.log((n + 1) / (dfreq[term] + 1)) + 1.0)

    # doc0: apple tf=2 beats common tf=3 (idf penalizes the ubiquitous term)
    assert got[(0, 1)][0] == "apple"
    assert abs(got[(0, 1)][1] - round(score(2, "apple"), 6)) < 1e-9
    # doc2: cherry tf=3 dominates
    assert got[(2, 1)][0] == "cherry"
    # doc1: common tf=2 wins; banana/cherry tie (same tf, same df) broken
    # by term text -> banana takes rank 2
    assert got[(1, 1)][0] == "common" and got[(1, 2)][0] == "banana"
    # exactly k rows per doc
    assert len(out) == 6


# ---------------------------------------------------------------------------
# vocabulary build + OOV profiling
# ---------------------------------------------------------------------------


def test_build_vocab_ranking_and_ids(spark):
    from acoustic_feature_extractor_spark.functions.text import build_vocab

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "a cat and a dog"),
        ],
        "doc_id int, text string",
    )
    v = {r["term"]: (r["term_id"], r["count"]) for r in build_vocab(docs, top_n=4).collect()}
    # counts: the=3, sat=2, cat=2, dog=2, a=2, ... top-4 with (count desc, term asc)
    assert v["the"] == (0, 3)
    assert v["a"] == (1, 2)
    assert v["cat"] == (2, 2)
    assert v["dog"] == (3, 2)
    assert len(v) == 4


def test_oov_stats(spark):
    from acoustic_feature_extractor_spark.functions.text import build_vocab, oov_stats

    train = spark.createDataFrame(
        [(0, "alpha beta gamma alpha")], "doc_id int, text string"
    )
    vocab = build_vocab(train, top_n=2)  # alpha, beta
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma delta"), (3, "alpha")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in oov_stats(docs, vocab).collect()}
    assert got[1]["n_tokens"] == 3 and got[1]["n_oov"] == 0
    assert got[2]["n_tokens"] == 2 and got[2]["n_oov"] == 2
    assert abs(got[2]["oov_rate"] - 1.0) < 1e-12
    assert got[3]["n_oov"] == 0
