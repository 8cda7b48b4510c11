"""Corpus-curation job: fused ≡ staged, stage accounting, resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"


def assert_same_rows(a, b):
    """Same columns in the same order, and the same rows on every column."""
    assert a.columns == b.columns
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.fixture
def curate(run_job):
    """Run the job in-process; return its JSON line."""
    return lambda args: run_job("curate_corpus", args)[1]


@pytest.mark.slow
def test_fused_equals_staged_and_contracts(tmp_path, spark, curate):
    fused = str(tmp_path / "fused")
    staged = str(tmp_path / "staged")
    m1 = curate(["--input", DOCS, "--output", fused, "--shards", "4"])
    m2 = curate(
        ["--input", DOCS, "--output", staged, "--shards", "4", "--checkpoint-stages"]
    )

    a = spark.read.parquet(os.path.join(fused, "curated"))
    assert_same_rows(a, spark.read.parquet(os.path.join(staged, "stage=curated")))

    # stage accounting: counts are monotone non-increasing through the drops
    rows = {p["partition"]: p["rows"] for p in m2["stages"]}
    assert (
        rows["stage=exact_dedup"]
        >= rows["stage=near_dedup"]
        >= rows["stage=quality"]
        == rows["stage=scrubbed"]
        == rows["stage=curated"]
    )
    assert m1["stages"][-1]["rows"] == rows["stage=curated"]

    # export contract: split-pure shards with dense positions
    per = (
        a.groupBy("split", "shard")
        .agg(F.count("*").alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi"))
        .collect()
    )
    assert all(r.lo == 0 and r.hi == r.n - 1 for r in per)
    # no exact-duplicate text survives
    assert a.groupBy("text").count().where(F.col("count") > 1).count() == 0


@pytest.mark.slow
def test_staged_resume_skips_completed(tmp_path, curate):
    out = str(tmp_path / "o")
    m1 = curate(["--input", DOCS, "--output", out, "--checkpoint-stages", "--shards", "4"])
    assert len(m1["stages"]) == 5
    m2 = curate(
        [
            "--input",
            DOCS,
            "--output",
            out,
            "--checkpoint-stages",
            "--resume",
            "--shards",
            "4",
        ]
    )
    # nothing recomputed: manifest carries the same 5 stages, wall is I/O only
    assert [s["partition"] for s in m2["stages"]] == [
        s["partition"] for s in m1["stages"]
    ]

    # mismatched parameters must refuse to resume
    with pytest.raises(SystemExit, match="argument mismatch"):
        curate(
            [
                "--input",
                DOCS,
                "--output",
                out,
                "--checkpoint-stages",
                "--resume",
                "--shards",
                "8",
            ]
        )


@pytest.mark.slow
def test_fused_resume_skips_finished_write(tmp_path, spark, curate):
    """A --resume of a finished fused run leaves curated/ as it is and
    records the curated write once."""
    from acoustic_feature_extractor_spark.plans.lineage import RunManifest

    out = str(tmp_path / "o")
    args = ["--input", DOCS, "--output", out, "--shards", "4"]
    curated = os.path.join(out, "curated")

    def written():  # file names change on any rewrite
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(curated) for f in fs)
        return files, sorted(map(tuple, spark.read.parquet(curated).collect()))

    m1 = curate(args)
    before = written()
    m2 = curate([*args, "--resume"])
    assert m2["stages"] == m1["stages"]
    manifest = RunManifest.load(os.path.join(out, "_manifest"))
    assert [p["partition"] for p in manifest.partitions] == ["curated"]
    assert written() == before


@pytest.mark.slow
def test_c4_stage(tmp_path, spark, curate):
    """--c4 prepends the C4 cleaning stage: it drops/trims docs BEFORE
    dedup, fused ≡ staged holds, and every surviving line satisfies the
    line rules (terminal punctuation, ≥ min words, no javascript)."""
    import re

    # the flat fixture has no line structure — plant it deterministically
    src = str(tmp_path / "docs")
    d = spark.read.parquet(DOCS)
    page = F.regexp_replace(
        F.replace(F.col("text"), F.lit("table"), F.lit("table.")),
        r"((?:\S+ ){4}\S+) ",
        "$1\n",
    )
    d.withColumn("text", page).write.parquet(src)

    fused = str(tmp_path / "fused")
    staged = str(tmp_path / "staged")
    m1 = curate(["--input", src, "--output", fused, "--shards", "4", "--c4",
               "--c4-min-lines", "1"])
    m2 = curate(["--input", src, "--output", staged, "--shards", "4", "--c4",
               "--c4-min-lines", "1", "--checkpoint-stages"])

    n_docs = spark.read.parquet(src).count()
    rows = {p["partition"]: p["rows"] for p in m2["stages"]}
    assert rows["stage=c4_clean"] < n_docs  # gate actually dropped docs
    assert rows["stage=c4_clean"] >= rows["stage=exact_dedup"]
    assert m1["stages"][-1]["rows"] == rows["stage=curated"]

    a = spark.read.parquet(os.path.join(fused, "curated"))
    assert_same_rows(a, spark.read.parquet(os.path.join(staged, "stage=curated")))
    # every surviving line obeys the C4 line rules (scrub may add <IP> etc
    # but never strips the terminal punctuation or shortens below 5 words)
    for r in a.select("text").limit(200).collect():
        for line in r["text"].split("\n"):
            assert re.search(r'[.!?"”]$', line), line
            assert len(re.split(r"\s+", line)) >= 5, line
            assert "javascript" not in line.lower()


@pytest.mark.slow
def test_cut_spans_stage(tmp_path, spark, curate):
    """--cut-spans adds the substring pass: fused ≡ staged still holds,
    the span_cut stage drops no DOCS (it trims text), and duplicated
    mass shrinks."""
    from acoustic_feature_extractor_spark.operators.dedup import span_dup_stats

    fused = str(tmp_path / "fused")
    staged = str(tmp_path / "staged")
    m1 = curate(["--input", DOCS, "--output", fused, "--shards", "4", "--cut-spans"])
    m2 = curate(
        ["--input", DOCS, "--output", staged, "--shards", "4", "--cut-spans",
         "--checkpoint-stages"]
    )
    rows = {p["partition"]: p["rows"] for p in m2["stages"]}
    assert rows["stage=span_cut"] == rows["stage=near_dedup"]  # trims, never drops
    assert m1["stages"][-1]["rows"] == rows["stage=curated"]

    a = spark.read.parquet(os.path.join(fused, "curated"))
    assert_same_rows(a, spark.read.parquet(os.path.join(staged, "stage=curated")))

    # the cut output carries strictly less duplicated mass than the input
    pre = spark.read.parquet(os.path.join(staged, "stage=near_dedup"))
    post = spark.read.parquet(os.path.join(staged, "stage=span_cut"))
    dup = lambda d: (
        span_dup_stats(d, w=8).agg(F.sum("dup_tokens")).first()[0] or 0
    )
    pre_dup, post_dup = dup(pre), dup(post)
    assert pre_dup > 0, "fixture should contain duplicated spans"
    assert post_dup < pre_dup
