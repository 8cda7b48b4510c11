"""Event-log parser and operator → layer classifier, on a recorded log.

The fixture is written by ``record_eventlog.py`` in this directory; its
docstring lists the four queries, whose row counts the tests below assert.
Run with ``python3 -m pytest jobbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from eventlog import classify, parse, read_events

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "small_eventlog.json.gz")


@pytest.fixture(scope="module")
def events():
    return read_events(FIXTURE)


@pytest.mark.parametrize(
    "ops, layer",
    [
        ({"StateStoreSave", "HashAggregate", "Exchange"}, "streaming"),
        ({"StreamingDeduplicateWithinWatermark", "WriteFiles"}, "streaming"),
        ({"Window", "WriteFiles", "Sort"}, "plans.pipeline"),
        ({"Window", "HashAggregate"}, "plans.pipeline"),
        ({"WriteFiles", "HashAggregate", "Scan parquet"}, "sources.write"),
        ({"HashAggregate", "Scan parquet", "Exchange"}, "operators.agg"),
        ({"ObjectHashAggregate"}, "operators.agg"),
        ({"Scan parquet", "Filter", "Exchange"}, "sources.scan"),
        ({"Exchange", "AQEShuffleRead"}, "plans.pipeline"),
        ({"Range", "Project"}, "other"),
        (set(), "other"),
    ],
)
def test_classify_precedence(ops, layer):
    assert classify(ops) == layer


def test_whole_log(events):
    log = parse(events)
    layers = {s.layer for s in log.stages}
    assert {"sources.write", "operators.agg", "plans.pipeline", "streaming"} <= layers
    assert len(log.jobs) >= 4
    assert all(s.job_id in log.jobs for s in log.stages)
    assert all(s.tasks > 0 and s.run_s >= s.task_max_s for s in log.stages)
    # query 1 writes 1,000 rows and query 3 writes 1,000 numbered rows
    assert sum(s.output_rows for s in log.stages) == 2000
    # queries 2, 3 and 4 each read the 1,000 rows once; Spark also counts
    # the 1,000 rows query 1 generates as input
    assert sum(s.input_rows for s in log.stages) == 4000
    assert sum(s.input_rows for s in log.stages if "Scan parquet" in s.operators) == 3000
    window = [s for s in log.stages if "Window" in s.operators]
    assert window and all(s.layer == "plans.pipeline" for s in window)
    assert sum(s.shuffle_write_bytes for s in log.stages) > 0


def test_time_window_selects_jobs(events):
    starts = sorted(
        e["Submission Time"] for e in events if e["Event"] == "SparkListenerJobStart"
    )
    first = parse(events, until_ms=starts[0])
    assert len(first.jobs) == 1
    rest = parse(events, since_ms=starts[0] + 1)
    assert len(first.jobs) + len(rest.jobs) == len(parse(events).jobs)
    assert not {s.stage_id for s in first.stages} & {s.stage_id for s in rest.stages}
    # the first job is the parquet write of query 1
    assert [s.layer for s in first.stages] == ["sources.write"]
    assert sum(s.output_rows for s in first.stages) == 1000


def test_layer_metrics_attribution(events):
    from tracing import Spans, layer_metrics

    log = parse(events)
    m = layer_metrics(log, Spans(), [], {}, input_turns=1000, cores=2, traced_wall_s=1.0, untraced_wall_s=1.0)
    # queries 2, 3 and 4 each scan the 1,000 rows; query 1's Range is no scan
    assert m["sources.scan.input_rows"] == 3000
    assert m["sources.scan.read_amp"] == 3
    # only query 3's scan stage shuffles for the pipeline (its window); the
    # shuffles ahead of query 2's aggregate and query 4's dedup state do not
    (feed,) = [s for s in log.stages if s.job_id == log.jobs[5]]
    assert sorted(feed.operators) == ["ColumnarToRow", "Exchange", "Scan parquet", "WholeStageCodegen (1)"]
    assert m["plans.pipeline.shuffle_write_bytes"] == feed.shuffle_write_bytes > 0
    assert m["spark.core_busy_share"] == sum(s.run_s for s in log.stages) / 2
    assert m["trace.overhead_s"] == 0


def test_benchmark_json_matches_run_metrics():
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert set(run.REPORT_ONLY) == set(run.WORKLOAD_NAMES)
    assert not set(run.PER_LAYER) & {m for only in run.REPORT_ONLY.values() for m in only}
