"""Tracing for the benchmark's traced run: spans around the public layer
functions the jobs call, streaming progress from a query listener, and the
per-layer metrics assembled from those plus the Spark event log.

Spans are recorded from the benchmark's side only: :class:`Spans` swaps
each target module attribute for a timing wrapper while it is entered.
That reaches the jobs because they import these functions inside
``main``, after the swap.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass

from eventlog import Log

PKG = "acoustic_feature_extractor_spark"

# (span name, module, attribute path) — the layer functions the jobs call
TARGETS = (
    ("plans.pipeline.turn_features", f"{PKG}.plans.pipeline", "turn_features"),
    ("operators.stats.corpus_stats", f"{PKG}.operators.stats", "corpus_stats"),
    ("sources.snapshots.history", f"{PKG}.sources.snapshots", "history"),
    ("sources.snapshots.read", f"{PKG}.sources.snapshots", "read"),
    ("sources.snapshots.commit", f"{PKG}.sources.snapshots", "commit"),
    ("sources.snapshots.merge_upsert", f"{PKG}.sources.snapshots", "merge_upsert"),
    ("plans.lineage.RunManifest.save", f"{PKG}.plans.lineage", "RunManifest.save"),
    ("streaming.enrich.streaming_exact_dedup", f"{PKG}.streaming.enrich", "streaming_exact_dedup"),
    ("streaming.enrich.intervalize_dimension", f"{PKG}.streaming.enrich", "intervalize_dimension"),
    ("streaming.enrich.streaming_asof_enrich", f"{PKG}.streaming.enrich", "streaming_asof_enrich"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


class Spans:
    """Context manager that records a :class:`Span` per call of each target."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            self._stack.append(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(name, t0, time.perf_counter(), parent))
                self._stack.pop()

        return traced

    def __enter__(self) -> "Spans":
        for name, module, path in TARGETS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
            self._undo.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(name, fn))
        return self

    def __exit__(self, *exc) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


def progress_listener():
    """A StreamingQueryListener that keeps every progress report as a dict.

    Built lazily so that importing this module needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.set()

    return ProgressListener()


def _streaming(progress: list[dict]) -> dict[str, float]:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
    ops = [[op for op in p.get("stateOperators", [])] for p in progress]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_s.p50": statistics.median(batch_s) if batch_s else 0.0,
        "streaming.batch_s.max": max(batch_s, default=0.0),
        "streaming.state_rows": max((sum(o["numRowsTotal"] for o in b) for b in ops), default=0),
        "streaming.state_bytes": max((sum(o["memoryUsedBytes"] for o in b) for b in ops), default=0),
        "streaming.dedup_dropped_rows": sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for b in ops for o in b
        ),
    }


def layer_metrics(
    log: Log,
    spans: Spans,
    progress: list[dict],
    counters: dict[str, float],
    *,
    input_turns: int,
    cores: int,
    traced_wall_s: float,
    untraced_wall_s: float,
) -> dict[str, float]:
    """Every per-layer metric of one traced job invocation.

    ``counters`` carries what only the workload knows (rows a merge
    rewrote, per-bucket seconds from the run's manifest); layers a
    workload does not run report 0.

    Input is counted on the stages that scan parquet, whatever layer wins
    them, so rows generated by a ``Range`` or read from a cache are left
    out. A stage that scans (or re-reads a shuffle) and then shuffles
    without aggregating writes the exchange ahead of a pipeline window or
    join; the classifier gives it to ``sources.scan`` (or
    ``plans.pipeline``), and the shuffle it writes counts for the
    pipeline. The shuffles of aggregates do not, nor those of a streaming
    query (its stages run the ``EventTimeWatermark``).

    ``trace.overhead_s`` is the traced call's wall time minus
    ``untraced_wall_s``, the mean of the untraced calls made just before
    and just after it."""
    stages = log.stages

    def layer(*names: str):
        return [s for s in stages if s.layer in names]

    scans = [s for s in stages if "Scan parquet" in s.operators]
    window = [s for s in stages if "Window" in s.operators]
    exchanges = [s for s in layer("sources.scan", "plans.pipeline") if "EventTimeWatermark" not in s.operators]
    agg_jobs = {s.job_id for s in layer("operators.agg")} - {
        s.job_id for s in stages if s.layer != "operators.agg" and s.layer != "other"
    }
    input_rows = sum(s.input_rows for s in scans)
    task_s = sum(s.run_s for s in stages)
    bucket_s = counters.get("bucket_s") or []
    out = {
        "sources.scan.input_rows": input_rows,
        "sources.scan.read_amp": input_rows / input_turns,
        "sources.scan.input_bytes": sum(s.input_bytes for s in scans),
        "sources.scan.task_s": sum(s.run_s for s in layer("sources.scan")),
        "sources.write.output_rows": sum(s.output_rows for s in stages),
        "sources.write.output_bytes": sum(s.output_bytes for s in stages),
        "sources.snapshots.merge_upsert_s": spans.seconds("sources.snapshots.merge_upsert"),
        "sources.snapshots.history_s": spans.seconds("sources.snapshots.history"),
        "sources.snapshots.rows_rewritten": counters.get("rows_rewritten", 0),
        "sources.snapshots.dirs_rewritten": counters.get("dirs_rewritten", 0),
        "operators.agg.task_s": sum(s.run_s for s in layer("operators.agg")),
        "operators.agg.jobs": len(agg_jobs),
        "plans.pipeline.build_s": spans.seconds("plans.pipeline.turn_features"),
        "plans.pipeline.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in exchanges),
        "plans.pipeline.window.tasks": sum(s.tasks for s in window),
        "plans.pipeline.window.task_s": sum(s.run_s for s in window),
        "plans.pipeline.window.task_max_s": max((s.task_max_s for s in window), default=0.0),
        "plans.pipeline.spill_bytes": sum(s.spill_bytes for s in layer("plans.pipeline")),
        "plans.lineage.manifest_save_s": spans.seconds("plans.lineage.RunManifest.save"),
        "plans.lineage.saves": spans.calls("plans.lineage.RunManifest.save"),
        "jobs.bucket_s.p50": statistics.median(bucket_s) if bucket_s else 0.0,
        "jobs.bucket_s.max": max(bucket_s, default=0.0),
        **_streaming(progress),
        "streaming.task_s": sum(s.run_s for s in layer("streaming")),
        "spark.jobs": len(log.jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.task_s": task_s,
        "spark.gc_s": sum(s.gc_s for s in stages),
        "spark.core_busy_share": task_s / (cores * traced_wall_s),
        "trace.overhead_s": traced_wall_s - untraced_wall_s,
    }
    return out


def dump(path: str, host: dict, spans: Spans, log: Log, progress: list[dict], metrics: dict) -> None:
    """Write the traced run's raw records next to its metrics."""
    with open(path, "w") as f:
        json.dump(
            {
                "host": host,
                "metrics": metrics,
                "spans": [asdict(s) for s in spans.spans],
                "stages": [{**asdict(s), "operators": sorted(s.operators)} for s in log.stages],
                "streaming_progress": progress,
            },
            f,
            indent=1,
        )
