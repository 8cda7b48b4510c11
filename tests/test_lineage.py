"""Run manifests: provenance, per-partition metrics, resume filter."""

from __future__ import annotations

import tempfile

import pytest

from acoustic_feature_extractor_spark.plans.lineage import (
    RunManifest,
    completed_partitions,
)


def test_manifest_roundtrip_and_resume():
    with tempfile.TemporaryDirectory() as d:
        m = RunManifest(run_id="r1", args={"gap": 300})
        m.record_partition("conv000000-conv000099", rows=1234, seconds=1.5)
        m.record_partition("conv000100-conv000199", rows=999, seconds=1.1)
        m.finish()
        m.save(d)

        loaded = RunManifest.load(d)
        assert loaded is not None and loaded.run_id == "r1"
        assert len(loaded.partitions) == 2
        assert completed_partitions(d) == {
            "conv000000-conv000099",
            "conv000100-conv000199",
        }


def test_save_that_fails_midway_keeps_previous_manifest(tmp_path):
    """A save killed partway must not tear manifest.json: --resume loads
    the previous manifest."""
    d = str(tmp_path)
    m = RunManifest(run_id="r1", args={"buckets": 4})
    m.record_partition("bucket=0", rows=10, seconds=0.5)
    m.save(d)

    class Unprintable:
        def __str__(self):
            raise OSError("disk full")

    # json.dump streams: everything before this partition is written
    # when the encoder reaches it and raises
    m.record_partition("bucket=1", rows=11, seconds=0.4, note=Unprintable())
    with pytest.raises(OSError):
        m.save(d)

    loaded = RunManifest.load(d)
    assert loaded is not None and loaded.args == {"buckets": 4}
    assert [p["partition"] for p in loaded.partitions] == ["bucket=0"]
