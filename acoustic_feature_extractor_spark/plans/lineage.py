"""Run manifests: provenance, per-partition metrics, resume.

The reference writes an ``arguments.json`` next to every output batch
(``/root/reference/src/acoustic_feature_extractor/utility/json_utility.py:14-15``,
called by every extractor). Ours generalizes that into a run manifest:
invocation args + per-partition lineage (key range, row count, wall time)
+ completion markers, giving the resume story the north_rule requires —
a rerun skips partitions whose marker exists (Iceberg-snapshot analog for
the parquet backend).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class RunManifest:
    run_id: str
    args: dict
    started_unix: float = field(default_factory=time.time)
    partitions: list[dict] = field(default_factory=list)
    finished_unix: float | None = None

    def record_partition(self, partition_id: str, rows: int, seconds: float | None, **extra) -> None:
        self.partitions.append(
            {"partition": partition_id, "rows": rows, "seconds": seconds, **extra}
        )

    def finish(self) -> None:
        self.finished_unix = time.time()

    def save(self, out_dir: str) -> str:
        return _write_json(os.path.join(out_dir, "manifest.json"), asdict(self))

    @staticmethod
    def load(out_dir: str) -> "RunManifest | None":
        path = os.path.join(out_dir, "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            d = json.load(f)
        m = RunManifest(run_id=d["run_id"], args=d["args"], started_unix=d["started_unix"])
        m.partitions = d.get("partitions", [])
        m.finished_unix = d.get("finished_unix")
        return m


def completed_partitions(out_dir: str) -> set[str]:
    """Partition ids already finished in a previous run (resume filter)."""
    m = RunManifest.load(out_dir)
    if m is None:
        return set()
    return {p["partition"] for p in m.partitions}


def _write_json(path: str, obj: dict) -> str:
    """Write ``obj`` to a temp file, then rename it over ``path``: a kill
    at any point leaves either the previous file or the new one, never a
    torn one that ``--resume`` could not load."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, default=str)
    os.replace(tmp, path)
    return path
