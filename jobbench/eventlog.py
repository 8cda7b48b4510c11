"""Spark event-log reader: one row per completed stage, each assigned to a
layer of this repository by the physical operators it ran.

The log must be one uncompressed file (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``); a ``.gz`` file is also
accepted, which is how the test fixture is stored.

Stage → operators: a stage's ``Accumulables`` carry the ids of the SQL
metrics its tasks updated, and every SQL plan event (the initial plan and
each adaptive re-plan) maps metric ids to plan nodes. The RDD scopes of
the stage add the operators that are not fused into whole-stage codegen.

Operators → layer, first rule that matches wins:

==================  ===================================================
layer               stage runs
==================  ===================================================
``streaming``       a ``StateStore*`` or ``Streaming*`` stateful operator
``plans.pipeline``  ``Window``
``sources.write``   ``WriteFiles``
``operators.agg``   a ``*Aggregate`` (and no ``Window``)
``sources.scan``    ``Scan parquet``
``plans.pipeline``  ``Exchange`` (a pure shuffle stage)
``other``           anything else
==================  ===================================================
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass, field

_RULES = (
    ("streaming", lambda ops: any(o.startswith(("StateStore", "Streaming")) for o in ops)),
    ("plans.pipeline", lambda ops: "Window" in ops),
    ("sources.write", lambda ops: "WriteFiles" in ops),
    ("operators.agg", lambda ops: any(o.endswith("Aggregate") for o in ops)),
    ("sources.scan", lambda ops: any(o.startswith("Scan parquet") for o in ops)),
    ("plans.pipeline", lambda ops: "Exchange" in ops),
)


def classify(operators: set[str] | frozenset[str]) -> str:
    """The layer a stage belongs to, from the operator names it ran."""
    for layer, matches in _RULES:
        if matches(operators):
            return layer
    return "other"


@dataclass
class Stage:
    stage_id: int
    job_id: int
    operators: frozenset[str]
    layer: str
    tasks: int = 0
    run_s: float = 0.0
    task_max_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    output_rows: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Log:
    """The jobs and completed stages of one time window of an event log."""

    jobs: list[int] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)


def read_events(path: str) -> list[dict]:
    """All events of one event-log file, in order."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk_plan(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = node["nodeName"].strip()
    for child in node.get("children", []):
        _walk_plan(child, out)


def _scope_name(rdd: dict) -> str | None:
    try:
        name = json.loads(rdd.get("Scope") or "{}").get("name")
    except ValueError:
        return None
    if not name or name.startswith("WholeStageCodegen"):
        return None
    return name.strip()


def parse(events: list[dict], since_ms: float = 0, until_ms: float = float("inf")) -> Log:
    """Stages of the jobs submitted within ``[since_ms, until_ms]``.

    Stages that were skipped (their shuffle output was reused) never
    complete and are not listed."""
    metric_node: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    jobs: list[int] = []
    stage_info: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], metric_node)
        elif kind == "SparkListenerJobStart":
            if since_ms <= e["Submission Time"] <= until_ms:
                jobs.append(e["Job ID"])
                for sid in e["Stage IDs"]:
                    job_of_stage[sid] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in job_of_stage and "Failure Reason" not in info:
                stage_info[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] in job_of_stage and e.get("Task Metrics"):
                tasks.setdefault(e["Stage ID"], []).append(e["Task Metrics"])

    log = Log(jobs=jobs)
    for sid, info in sorted(stage_info.items()):
        ops = {metric_node[a["ID"]] for a in info.get("Accumulables", []) if a["ID"] in metric_node}
        ops |= {n for n in map(_scope_name, info.get("RDD Info", [])) if n}
        st = Stage(sid, job_of_stage[sid], frozenset(ops), classify(ops))
        for m in tasks.get(sid, []):
            run_s = m["Executor Run Time"] / 1000.0
            st.tasks += 1
            st.run_s += run_s
            st.task_max_s = max(st.task_max_s, run_s)
            st.gc_s += m["JVM GC Time"] / 1000.0
            st.input_rows += m["Input Metrics"]["Records Read"]
            st.input_bytes += m["Input Metrics"]["Bytes Read"]
            st.output_rows += m["Output Metrics"]["Records Written"]
            st.output_bytes += m["Output Metrics"]["Bytes Written"]
            st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.spill_bytes += m["Disk Bytes Spilled"]
        log.stages.append(st)
    return log
