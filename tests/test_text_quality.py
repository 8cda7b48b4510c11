"""Gopher-style repetition/quality signals (Rae et al. 2021, public)."""

from __future__ import annotations

from acoustic_feature_extractor_spark.functions import text as tx


def _docs(spark):
    rows = [
        # doc 1: one of three lines repeated -> dup ratios > 0
        (1, "the cat sat\nthe cat sat\non the mat"),
        (2, "hello world this is a perfectly normal document with diverse words"),
        # doc 3: one bigram dominates
        (3, "spam spam spam spam spam spam"),
        # doc 4: symbol soup
        (4, "### #tag ... wow … ok"),
        (5, ""),
        (6, "one"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_line_ratios(spark):
    out = {
        r.doc_id: r
        for r in tx.gopher_filter(_docs(spark)).collect()
    }
    assert abs(out[1].dup_line_ratio - 1 / 3) < 1e-5
    # repeated line is 11 of 32 line-chars
    assert abs(out[1].dup_line_char_ratio - 11 / 32) < 1e-5
    assert out[2].dup_line_ratio == 0.0
    assert out[5].dup_line_ratio == 0.0  # empty doc: no lines, no NaN


def test_top_gram_share(spark):
    out = {r.doc_id: r for r in tx.gopher_filter(_docs(spark)).collect()}
    assert out[3].top_gram_share == 1.0  # every bigram is "spam spam"
    assert out[2].top_gram_share == 0.1  # 10 distinct bigrams
    assert out[6].top_gram_share == 0.0  # too short for a bigram


def test_alpha_and_symbol_ratios(spark):
    d = _docs(spark)
    out = {r.doc_id: r for r in tx.gopher_filter(d).collect()}
    assert out[2].alpha_word_ratio == 1.0
    assert out[4].alpha_word_ratio == 0.5  # "###" and "..." carry no letter


def test_gopher_filter_verdicts(spark):
    out = {
        r.doc_id: r.keep
        for r in tx.gopher_filter(_docs(spark), min_words=3).collect()
    }
    assert out[2] is True  # normal prose survives
    assert out[3] is False  # top-bigram share 1.0 > 0.2
    assert out[1] is False  # dup-line ratio 1/3 > 0.3
    assert out[4] is False  # alpha-word ratio 0.5 < 0.8


def test_profile_partition_invariant(spark):
    d = _docs(spark)
    a = sorted(map(tuple, tx.gopher_filter(d).collect()))
    b = sorted(map(tuple, tx.gopher_filter(d.repartition(7)).collect()))
    assert a == b


def test_pii_scrub(spark):
    rows = [
        (1, "mail me at jo.doe+x@example.co.uk or call +1 (555) 123-4567"),
        (2, "server at 10.0.0.1 and 192.168.1.255 up"),
        (3, "clean text with no identifiers at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.pii_scrub(d).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "example" not in out[1].redacted
    assert out[2].n_ip == 2 and out[2].redacted.count("<IP>") == 2
    assert out[3].redacted == rows[2][1]


def test_c4_clean_line_rules(spark):
    """C4 line filters (Raffel et al. 2020): terminal punctuation,
    minimum words, javascript tell — checked line by line."""
    rows = [
        (
            1,
            "This sentence ends with a period.\n"  # kept
            "no terminal punctuation here at all\n"  # dropped: no punct
            "Too short.\n"  # dropped: < 5 words
            "Please enable JavaScript to view this page.\n"  # dropped: js
            "Is this a real question?\n"  # kept
            'He said "close the door."\n'  # kept (quote after period)
            "   \n",  # blank: never a line
        ),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.c4_clean(d).collect()[0]
    assert out.n_lines == 6
    assert out.kept_lines == 3
    assert out.dropped_lines == 3
    assert out.keep is True
    assert out.clean_text.split("\n") == [
        "This sentence ends with a period.",
        "Is this a real question?",
        'He said "close the door."',
    ]


def test_c4_clean_doc_gates(spark):
    good = "One two three four five.\nSix seven eight nine ten.\nMore words keep coming here."
    rows = [
        (1, good),
        (2, good + "\nLorem Ipsum dolor sit amet."),  # lorem -> drop
        (3, good + "\nfunction f() { return 1; }"),  # brace -> drop
        (4, "One two three four five.\nSix seven eight nine ten."),  # 2 < min_lines
        (5, ""),  # empty doc
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.c4_clean(d).collect()}
    assert out[1].keep is True
    assert out[2].keep is False and out[2].has_lorem_ipsum
    assert out[3].keep is False and out[3].has_brace
    assert out[4].keep is False and out[4].kept_lines == 2
    assert out[5].keep is False and out[5].n_lines == 0 and out[5].clean_text == ""


def test_c4_clean_bruteforce(spark):
    """c4_clean == the straight-line Python rules on random-ish fixtures."""
    import re

    words = ["alpha", "beta", "gamma", "javascript", "delta", "epsilon"]
    rows = []
    for i in range(40):
        lines = []
        for j in range((i % 5) + 1):
            k = (i * 7 + j * 3) % 6
            n = (i + j) % 8 + 1
            line = " ".join(words[(k + m) % 6] for m in range(n))
            if (i + j) % 3 == 0:
                line += "."
            lines.append(line)
        text = "\n".join(lines)
        if i % 11 == 0:
            text = "lorem ipsum " + text
        if i % 13 == 0:
            text += " {"
        rows.append((i, text))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in tx.c4_clean(d).collect()}
    for i, text in rows:
        lines = [l.strip() for l in text.split("\n") if l.strip()]
        kept = [
            l
            for l in lines
            if re.search(r'[.!?"”]$', l)
            and len(re.split(r"\s+", l)) >= 5
            and "javascript" not in l.lower()
        ]
        lorem = "lorem ipsum" in text.lower()
        brace = "{" in text
        r = got[i]
        assert r.n_lines == len(lines)
        assert r.kept_lines == len(kept)
        assert r.clean_text == "\n".join(kept)
        assert r.keep == (len(kept) >= 3 and not lorem and not brace)


def test_bigram_logprob_bruteforce(spark):
    """bigram_logprob == a numpy/dict add-1 bigram model on the same
    corpus; gibberish scores worse (higher perplexity) than repetitive
    in-distribution text."""
    import math

    import pandas as pd

    from acoustic_feature_extractor_spark.functions.text import bigram_logprob

    docs = [
        (0, "the cat sat on the mat and the cat sat again"),
        (1, "the cat sat on the mat"),
        (2, "zxq wvu tsr qpo nml kji"),  # gibberish: every bigram unseen elsewhere
        (3, "one"),  # single token: no bigrams
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))

    toks = {i: t.lower().split() for i, t in docs}
    from collections import Counter

    c1 = Counter(w for tk in toks.values() for w in tk)
    cb = Counter(
        (tk[j], tk[j + 1]) for tk in toks.values() for j in range(len(tk) - 1)
    )
    V = len(c1)
    want = {}
    for i, tk in toks.items():
        lps = [
            math.log((cb[(tk[j], tk[j + 1])] + 1.0) / (c1[tk[j]] + V))
            for j in range(len(tk) - 1)
        ]
        want[i] = (len(lps), sum(lps) / len(lps) if lps else None)

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"], r["perplexity"])
        for r in bigram_logprob(df).collect()
    }
    for i, (nb, al) in want.items():
        assert got[i][0] == nb
        if al is None:
            assert got[i][1] is None and got[i][2] is None
        else:
            assert abs(got[i][1] - al) < 1e-9
            assert abs(got[i][2] - math.exp(-al)) < 1e-9
    assert got[2][2] > got[0][2]  # gibberish scores worse
