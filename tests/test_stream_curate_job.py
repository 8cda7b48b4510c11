"""Streaming curation job: drain mode, gate parity with the batch
operators, dedup across waves, exactly-once snapshots."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.sources import snapshots as snap


@pytest.fixture
def run(run_job):
    """Run the job in-process; return its JSON line."""

    def call(args: list[str]) -> dict:
        rc, out = run_job("stream_curate", args)
        assert rc == 0
        return out

    return call


def _docs(spark, ids_texts):
    pdf = pd.DataFrame(
        {
            "doc_id": [i for i, _ in ids_texts],
            "text": [t for _, t in ids_texts],
            "lang": ["en"] * len(ids_texts),
            "source": ["s0"] * len(ids_texts),
            "n_chars": [len(t) for _, t in ids_texts],
        }
    )
    return spark.createDataFrame(pdf)


GOOD = (
    "The quick brown fox jumps over the lazy dog today.\n"
    "Every good sentence here carries plenty of distinct words.\n"
    "Contact me at jo@example.com for more information please."
)
SHORT = "too short."
LOREM = "lorem ipsum " + GOOD


@pytest.mark.slow
def test_stream_curate_drain_gates_and_exactly_once(tmp_path, spark, run):
    src = str(tmp_path / "in")
    table = str(tmp_path / "curated")

    wave1 = [(0, GOOD), (1, GOOD), (2, SHORT), (3, LOREM)]  # 1 dups 0
    _docs(spark, wave1).write.mode("append").parquet(src)
    m1 = run(["--input", src, "--output", table, "--drain", "--c4",
              "--min-words", "10"])
    got1 = snap.read(spark, table).collect()
    # only the GOOD text survives: its dup is dropped by the stream dedup,
    # SHORT fails the C4/Gopher gates, LOREM fails the page gate
    assert m1["table_rows"] == len(got1) == 1
    r = got1[0]
    assert r["doc_id"] in (0, 1)  # either copy may win within one micro-batch
    assert "<EMAIL>" in r["text"] and "example.com" not in r["text"]
    assert r["n_email"] == 1
    # C4 kept every line (all end in '.', ≥5 words, no javascript)
    assert len(r["text"].split("\n")) == 3

    # wave 2: a replayed duplicate of GOOD plus one new clean doc
    NEW = (
        "Fresh documents arrive with their own distinct vocabulary daily.\n"
        "Streaming curation keeps exactly one copy of each text.\n"
        "Quality gates run as pure projections over the stream."
    )
    _docs(spark, [(10, GOOD), (11, NEW)]).write.mode("append").parquet(src)
    m2 = run(["--input", src, "--output", table, "--drain", "--c4",
              "--min-words", "10"])
    got2 = snap.read(spark, table).collect()
    texts = sorted(r["text"].split("\n")[0] for r in got2)
    assert len(got2) == 2  # GOOD replay deduped; NEW admitted
    assert m2["table_rows"] == 2
    assert texts[0].startswith("Fresh documents") or texts[1].startswith("Fresh documents")
    # one snapshot per committed epoch, all epochs distinct (exactly-once)
    epochs = [s.lineage["epoch"] for s in snap.history(table)]
    assert len(epochs) == len(set(epochs))

    # a third drain with nothing new commits nothing
    before = snap.current_snapshot_id(table)
    run(["--input", src, "--output", table, "--drain", "--c4",
         "--min-words", "10"])
    assert snap.current_snapshot_id(table) == before


@pytest.mark.slow
def test_stream_curate_gate_matches_batch_operators(tmp_path, spark, run):
    """The streamed keep-decision must equal the batch c4_clean +
    gopher_filter composition on the same docs (no dups here, so
    dedup is a no-op and the gates are the only effect)."""
    from acoustic_feature_extractor_spark.functions import text as tx

    rows = []
    for i in range(30):
        body = " ".join(
            f"word{(i * 7 + j) % 23} token{(i + j) % 11}" for j in range(3 + i % 5)
        )
        line = body + ("." if i % 3 else "")
        n_lines = 1 + i % 4
        rows.append((i, "\n".join(line for _ in range(n_lines))))
    src = str(tmp_path / "in")
    table = str(tmp_path / "curated")
    d = _docs(spark, rows)
    d.write.parquet(src)
    run(["--input", src, "--output", table, "--drain", "--c4",
         "--min-words", "5", "--c4-min-lines", "1"])
    got_ids = sorted(
        r["doc_id"] for r in snap.read(spark, table).collect()
    ) if snap.history(table) else []

    cleaned = tx.c4_clean(d, min_line_words=5, min_lines=1)
    c4_pass = cleaned.where("keep").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    gop = tx.gopher_filter(c4_pass, min_words=5)
    exp_ids = sorted(r["doc_id"] for r in gop.where("keep").collect())
    assert got_ids == exp_ids
    assert exp_ids  # fixture admits at least one doc
