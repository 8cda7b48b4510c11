"""Text-analysis functions for training-data pipelines.

Not in the reference (audio-domain); first-class here per the engine's
charter: language-ID heuristic, quality scoring, token counting, document
fingerprinting. Every function is a pure Column expression (JVM-side,
codegen'd) — deliberately expressible in ANSI SQL too, so each has a
DuckDB oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

# Tiny stopword lists for the n-gram/lexicon language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "des", "est", "pas", "une", "dans", "que"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "por", "con"],
}


def whitespace_tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximating token count: word-pieces + digits + punctuation.

    Counts regex matches of ``[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]`` — a
    cheap stand-in for subword tokenizers (≈ chars/4 for long words),
    computable as a pure column expression:
    pieces(word) = ceil(len(word)/4) for alpha runs + 1 per other symbol.
    """
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    words = token_count(text)
    # alpha runs cost ~ceil(chars/4) but at least one piece per word
    return F.greatest(F.ceil(alpha_chars / 4.0).cast("long"), words.cast("long")) + digits + punct


def punct_ratio(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")) / F.greatest(
        F.length(text), F.lit(1)
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = whitespace_tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.array_intersect(toks, sw))
    # ratio of *distinct* stopwords present to list size — order-free and
    # SQL-portable (array_intersect dedups)
    return hits / F.lit(float(len(STOPWORDS[lang])))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + punctuation sanity +
    stopword presence (heuristics in the C4/Gopher lineage, simplified)."""
    n = F.length(text)
    len_ok = F.when((n >= 50) & (n <= 5000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(text) < 0.2, 1.0).otherwise(0.5)
    sw_ok = F.least(stopword_ratio(text, "en") * 2.0, F.lit(1.0))
    return F.round((len_ok + punct_ok + sw_ok) / 3.0, 6)


def lang_id(text: Column) -> Column:
    """Argmax language by distinct-stopword hits; 'und' when all zero."""
    scores = [(lang, F.size(F.array_intersect(whitespace_tokens(text), F.array(*[F.lit(w) for w in ws])))) for lang, ws in STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # iterate reversed so earlier langs win ties (en first)
    for lang, s in reversed(scores):
        out = F.when(s == best_score, F.lit(lang)).otherwise(out)
    return F.when(best_score > 0, out).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint, SQL-portable.

    Σ over token positions of ``(pos+1) · (len(token)·256 + ascii(first))``
    mod 2^31 — a rolling-hash-style signature computable identically in any
    engine (no murmur dependence). Position weighting makes it
    order-sensitive like a true rolling hash.
    """
    toks = whitespace_tokens(text)
    # Single pass over the token array: accumulator struct carries (sum, pos)
    # so the expensive regex split is evaluated once per row, not once per
    # token position (sequence+element_at would re-split per element — O(n²)).
    acc = F.aggregate(
        toks,
        F.struct(F.lit(0).cast("long").alias("s"), F.lit(0).cast("long").alias("p")),
        lambda a, tok: F.struct(
            (
                a["s"]
                + (a["p"] + 1)
                * (F.length(tok) * 256 + F.ascii(F.substring(tok, 1, 1)))
            ).alias("s"),
            (a["p"] + 1).alias("p"),
        ),
    )
    return F.pmod(acc["s"], F.lit(2147483647))


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = term count within the document; idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn-style); score = tf·idf. Ties broken by term text so
    the top-k set is deterministic. Plan shape: one explode + two
    aggregations + a broadcast-joined doc-count literal; the per-document
    top-k is a window over (doc, term) rows — at web scale the term table
    shuffles once on term (doc-frequency) and once on doc (top-k), both
    unavoidable for exact TF-IDF.
    """
    toks = df.select(
        F.col("doc_id"), F.explode(whitespace_tokens(F.col("text"))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(maybe_broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "rank", F.round("tfidf", 6).alias("tfidf"))
    )


def document_profile(df: DataFrame) -> DataFrame:
    """Full text-analysis projection over a documents table."""
    t = F.col("text")
    return df.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t, "en"), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_guess"),
        fingerprint(t).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition / quality signals (Rae et al. 2021, public)
# --------------------------------------------------------------------------


def _line_array(text: Column) -> Column:
    """Non-empty trimmed lines of a document."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )


def dup_line_ratio(text: Column) -> Column:
    """Fraction of lines that repeat an earlier line (0 for <=1 line)."""
    lines = _line_array(text)
    n = F.size(lines)
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(lines))) / n.cast("double")
    )


def dup_line_char_ratio(text: Column) -> Column:
    """Fraction of line-characters inside repeated line occurrences.

    chars(all lines) - chars(distinct lines), over chars(all lines) —
    the char-weighted companion of :func:`dup_line_ratio` (a doc whose
    one repeated line is 90% of its bytes is worse than one repeating a
    one-word line).
    """
    lines = _line_array(text)
    chars = lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
    )
    tot = chars(lines)
    return F.when(tot <= 0, F.lit(0.0)).otherwise(
        (tot - chars(F.array_distinct(lines))) / tot.cast("double")
    )


def alpha_word_ratio(text: Column) -> Column:
    """Fraction of words containing at least one alphabetic character
    (Gopher keeps docs with >= 0.8)."""
    toks = whitespace_tokens(text)
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / n.cast("double")
    )


def mean_word_length(text: Column) -> Column:
    toks = whitespace_tokens(text)
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
        / n.cast("double")
    )


def top_gram_share(text: Column) -> Column:
    """Share of the document's word bigrams taken by its most frequent one
    (Gopher's top-n-gram repetition signal), as a pure Column expression.

    ``array_sort`` groups equal grams into runs, then ONE aggregate pass
    tracks (prev, run, best) — the per-doc mode count with zero shuffles,
    inside the scan's stage. The explode → groupBy(doc, gram) → join-back
    formulation it replaced in :func:`gopher_filter` timed the same: the
    ``doc_quality`` query at sf0.1 on a 4-core host took 3.30 s median
    with the fold and 3.22 s with the grouped join (5 JVMs each, best of
    2 runs after a warm-up; the grouped side's quartiles 2.95-3.26 s).
    Docs too short for a bigram score 0.
    """
    from acoustic_feature_extractor_spark.operators.dedup import (
        tokenize,
        word_shingles,
    )

    toks = tokenize(text)
    g = F.array_sort(
        F.when(F.size(toks) >= 2, word_shingles(toks, 2)).otherwise(
            F.array().cast("array<string>")
        )
    )
    run = lambda a, x: F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
    st = F.aggregate(
        g,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            run(a, x).alias("run"),
            F.greatest(a["best"], run(a, x)).alias("best"),
        ),
    )
    return F.when(
        F.size(g) > 0, F.round(st["best"] / F.size(g).cast("double"), 6)
    ).otherwise(F.lit(0.0))


def _gopher_signals(t: Column) -> dict[str, Column]:
    """The Gopher signals, rounded as ``gopher_filter`` reports them."""
    return {
        "n_words": token_count(t),
        "dup_line_ratio": F.round(dup_line_ratio(t), 6),
        "dup_line_char_ratio": F.round(dup_line_char_ratio(t), 6),
        "alpha_word_ratio": F.round(alpha_word_ratio(t), 6),
        "mean_word_len": F.round(mean_word_length(t), 6),
        "top_gram_share": top_gram_share(t),
    }


def _gopher_gate(s: dict[str, Column], min_words: int) -> Column:
    """The published Gopher thresholds over the signal columns ``s``."""
    return (
        (s["n_words"] >= min_words)
        & (s["n_words"] <= 100_000)
        & (s["mean_word_len"] >= 3.0)
        & (s["mean_word_len"] <= 10.0)
        & (s["alpha_word_ratio"] >= 0.8)
        & (s["dup_line_ratio"] <= 0.3)
        & (s["top_gram_share"] <= 0.2)
    )


def gopher_keep(text: Column, min_words: int = 50) -> Column:
    """:func:`gopher_filter`'s ``keep`` as one Column predicate over the
    text: a pure projection — no exchange, no Python — that fits a
    streaming plan after its stateful stage."""
    return _gopher_gate(_gopher_signals(text), min_words)


def gopher_filter(
    df: DataFrame,
    min_words: int = 50,
) -> DataFrame:
    """Apply the published Gopher quality thresholds; adds ``keep`` +
    the signals so rejects are auditable (filtering silently is how
    corpora rot). Every signal, the top-gram share included
    (:func:`top_gram_share`'s fold), is one projection — no exchange —
    so ``keep`` equals :func:`gopher_keep`.
    """
    t = F.col("text")
    sig = df.select("doc_id", *[c.alias(n) for n, c in _gopher_signals(t).items()])
    return sig.withColumn("keep", _gopher_gate({n: F.col(n) for n in sig.columns}, min_words))


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------
# Patterns restricted to the syntax both Java regex (Spark) and RE2
# (DuckDB oracle) interpret identically: no lookaround, no backrefs.
# Redaction order is part of the contract (emails can contain digits that
# would otherwise half-match the phone pattern): EMAIL -> IP -> PHONE.

PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
}


def pii_counts(text: Column) -> list[Column]:
    """One ``n_<kind>`` count column per PII pattern."""
    return [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]


def redact_pii(text: Column) -> Column:
    """Replace every PII match with ``<KIND>`` placeholders, in the
    documented order."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_scrub(df: DataFrame) -> DataFrame:
    """Per-doc PII audit + redacted text — pure projection, no shuffle.

    Counts are taken BEFORE redaction (the audit trail for "how much PII
    did this corpus carry"), the text after.  At 100 TB this is a
    map-only pass: it pipelines with the scan and writes back out with
    zero exchanges.
    """
    t = F.col("text")
    return df.select(
        "doc_id",
        *pii_counts(t),
        redact_pii(t).alias("redacted"),
    )


# --------------------------------------------------------------------------
# C4-style heuristic cleaning (Raffel et al. 2020, §2.2)
# --------------------------------------------------------------------------


def c4_kept_lines(text: Column, min_line_words: int = 5) -> Column:
    """The lines of a document that survive the C4 line filters.

    Published rules (Raffel et al. 2020): keep a line only if it ends in
    a terminal punctuation mark (period / exclamation / question mark /
    closing quote), carries at least ``min_line_words`` whitespace words,
    and does not mention "javascript" (the boilerplate tell).  Lines are
    trimmed first; blank lines never survive.
    """
    lines = _line_array(text)
    return F.filter(
        lines,
        lambda l: (
            l.rlike('[.!?"”]$')
            & (F.size(F.split(l, r"\s+")) >= min_line_words)
            & ~F.lower(l).contains("javascript")
        ),
    )


def _c4_page_tells(text: Column) -> tuple[Column, Column]:
    """(contains "lorem ipsum" case-insensitively, contains a curly brace
    — the code tell): C4's page-level rejects."""
    return F.lower(text).contains("lorem ipsum"), text.contains("{")


def c4_page_keep(text: Column, kept: Column, min_lines: int = 3) -> Column:
    """C4's document-level gate (Raffel et al. 2020): drop any page with
    a lorem-ipsum or curly-brace tell, and any page left with fewer than
    ``min_lines`` of its :func:`c4_kept_lines` ``kept``."""
    lorem, brace = _c4_page_tells(text)
    return (F.size(kept) >= min_lines) & ~lorem & ~brace


def c4_clean(
    df: DataFrame,
    min_line_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4 heuristic cleaning: line-level filters + document-level gates.

    Line level: :func:`c4_kept_lines`.  Document level:
    :func:`c4_page_keep`.  The reference analog is the validity-mask
    projection chain (reference ``f0.py`` valid-frame masking) — a
    map-only pass; rejects stay auditable via the flags.

    Output: (id, n_lines, kept_lines, dropped_lines, has_lorem_ipsum,
    has_brace, keep, clean_text).  ``clean_text`` re-joins the surviving
    lines with a newline; for dropped docs it is still produced (callers
    filter on ``keep``), so the pass stays a pure projection with zero
    exchanges at any corpus size.
    """
    t = F.col("text")
    lines = _line_array(t)
    kept = c4_kept_lines(t, min_line_words)
    n_kept = F.size(kept)
    lorem, brace = _c4_page_tells(t)
    return df.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        n_kept.alias("kept_lines"),
        (F.size(lines) - n_kept).alias("dropped_lines"),
        lorem.alias("has_lorem_ipsum"),
        brace.alias("has_brace"),
        c4_page_keep(t, kept, min_lines).alias("keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def bigram_logprob(df: DataFrame) -> DataFrame:
    """Per-document mean bigram log-probability under a model trained on
    the corpus itself — the distributed analog of the CCNet / Gopher
    LM-perplexity quality signal (public method; KenLM swapped for an
    add-one bigram model the engine can train in two aggregations).

    P(w2|w1) = (C(w1 w2) + 1) / (C(w1) + V), V = distinct unigrams.
    Output: (id, n_bigrams, avg_logprob, perplexity = exp(−avg)).
    High perplexity ⇒ the doc's word transitions are rare in the corpus
    (gibberish, boilerplate-free OCR noise) — the usual drop signal.
    Docs with < 2 tokens have no bigrams: null avg/perplexity.

    Scale shape: model = two map-side-combined counts (unigrams are
    vocab-sized and broadcast-gated; bigram counts are corpus-vocab
    sized — that join stays a shuffle, AQE handles it). Token/bigram
    keys are 8-byte xxhash64, never strings, so shuffles carry longs
    (collisions merge two counts at 2^-64 per pair — noise for a
    quality score). One groupBy(id) closes the scan.
    """
    toks = whitespace_tokens(F.col("text"))
    n = F.size(toks)
    uni = df.select(F.col("doc_id"), F.explode(toks).alias("_w")).select(
        "doc_id", F.xxhash64("_w").alias("_h1")
    )
    m = n - 1
    z = F.arrays_zip(F.slice(toks, 1, m).alias("a"), F.slice(toks, 2, m).alias("b"))
    bi = df.where(n >= 2).select(
        F.col("doc_id"), F.explode(z).alias("_z")
    ).select(
        "doc_id",
        F.xxhash64("_z.a").alias("_h1"),
        F.xxhash64("_z.a", "_z.b").alias("_hb"),
    )
    c1 = uni.groupBy("_h1").agg(F.count("*").alias("_c1"))
    cb = bi.groupBy("_hb").agg(F.count("*").alias("_cb"))
    vtot = c1.agg(F.count("*").alias("_V"))
    scored = (
        bi.join(cb, "_hb")
        .join(maybe_broadcast(c1), "_h1")
        .crossJoin(F.broadcast(vtot))  # one row
        .withColumn(
            "_lp",
            F.log(
                (F.col("_cb") + F.lit(1.0)) / (F.col("_c1") + F.col("_V"))
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.avg("_lp").alias("avg_logprob")
    )
    base = df.select(F.col("doc_id"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.col("avg_logprob"),
        F.exp(-F.col("avg_logprob")).alias("perplexity"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 120,
    stride: int = 90,
) -> DataFrame:
    """Fixed-size overlapping character chunks with stable ids — the RAG /
    long-context chunking pass (split every document into ``size``-char
    windows every ``stride`` chars, last chunk may be short, every char
    covered when ``stride <= size``).

    One row per (doc, chunk): ``(id, chunk_idx, chunk_start, chunk_len,
    chunk_hash, chunk)``. Pure JVM: chunk starts come from
    ``posexplode(sequence(...))`` and the slice is ``substring`` — no
    Python, no driver involvement, and the explode is partition-local so
    the operator is map-only (zero shuffles) at any corpus size.
    Zero-length documents produce no chunks. Requires ``stride >= 1``;
    ``stride <= size`` guarantees full coverage.
    """
    if stride < 1:
        raise ValueError("stride must be >= 1")
    n = F.length(F.col(text_col))
    extra = F.greatest(n - F.lit(size), F.lit(0))
    # ceil(extra / stride) in exact integer arithmetic (doubles are exact
    # here but why rely on it)
    n_chunks = (extra + F.lit(stride - 1) - F.pmod(extra + F.lit(stride - 1), F.lit(stride))) / F.lit(stride) + 1
    d = df.where(n > 0).select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        F.posexplode(
            F.sequence(F.lit(0), (n_chunks.cast("long") - 1) * F.lit(stride), F.lit(stride))
        ).alias("chunk_idx", "chunk_start"),
    )
    chunk = F.substring(F.col("_txt"), F.col("chunk_start") + 1, size)
    return d.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
        chunk.alias("chunk"),
    )


def build_vocab(
    df: DataFrame,
    top_n: int = 1000,
) -> DataFrame:
    """Frequency-ranked corpus vocabulary: the ``top_n`` most frequent
    whitespace tokens as (term, term_id, count), ids dense 0..top_n-1 in
    (count desc, term asc) order — the deterministic id assignment every
    embedding-table consumer needs (same term -> same id on any cluster
    size or partitioning).

    Scale shape: one corpus-sized explode + groupBy(term) with map-side
    combine (the unavoidable exact-count pass), then the ranking reuses
    ``windows.topk_per_group``'s two-phase salted exact top-k over the
    VOCAB-sized count table — the global single-partition sort only ever
    sees the salt-bucket survivors (≤ salt × top_n rows), never the full
    distinct-term table (billions of tail tokens on a web corpus).
    (count desc, term asc) is a total order, the precondition for the
    two-phase prune to be exact.
    """
    from acoustic_feature_extractor_spark.operators.windows import topk_per_group

    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    counts = (
        df.select(F.explode(whitespace_tokens(F.col("text"))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    ranked = topk_per_group(
        counts.withColumn("_g", F.lit(1)),
        "_g",
        [F.col("count").desc(), F.col("term").asc()],
        k=int(top_n),
    )
    return ranked.select(
        "term", (F.col("rank") - 1).cast("long").alias("term_id"), "count"
    )


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """Per-document out-of-vocabulary profile against a ``build_vocab``
    table: (id, n_tokens, n_oov, oov_rate). The vocab side is top_n rows —
    broadcast left join, the corpus explode never shuffles on term; the
    per-doc reduce groups on the id the explode preserved."""
    toks = df.select(
        F.col("doc_id"), F.explode(whitespace_tokens(F.col("text"))).alias("term")
    ).where(F.col("term") != "")
    flagged = toks.join(
        F.broadcast(vocab.select("term", F.lit(True).alias("_inv"))),
        "term",
        "left",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0)).alias("n_oov"),
        (
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )
