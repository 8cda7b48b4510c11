"""Entry-point smoke: entry() produces rows; the query registry has no
duplicate name or empty oracle; a sample of queries runs at sf0.001."""

from __future__ import annotations

import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "conv_id" in df.columns and "text" in df.columns


def test_registry_consistency():
    names = [name for name, _, _ in entry_mod._REGISTRY]
    # dict() would silently keep only the last of two same-named entries
    assert len(names) == len(set(names)) == len(entry_mod.queries())
    assert all(sql.strip() for _, _, sql in entry_mod._REGISTRY)


def test_stream_snapshot_sink_keeps_null_ts_event(spark, tmp_path):
    """A NULL-``ts`` event falls on neither side of the time cut, yet the
    oracle counts it: the two drops must still land it exactly once."""
    from tools.check_oracle import canon

    ev = pq.read_table(f"{SF}/events.parquet")
    row = ev.slice(0, 1).to_pylist()[0]
    row.update(event_id=ev.num_rows + 1000, ts=None)
    ev = pa.concat_tables([ev, pa.Table.from_pylist([row], schema=ev.schema)])
    pq.write_table(ev, tmp_path / "events.parquet")

    df = entry_mod.queries()["stream_snapshot_sink"](spark, str(tmp_path))
    got = canon([tuple(r) for r in df.collect()], df.columns)
    with duckdb.connect() as con:
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
        res = con.sql(entry_mod.oracle_sql()["stream_snapshot_sink"])
        want = canon(res.fetchall(), res.columns)
    assert got == want


@pytest.mark.parametrize(
    "name",
    ["flagship_features", "asof_join", "sessionize", "tpch_q1", "text_profile"],
)
def test_sample_queries_run_sf0001(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() > 0
