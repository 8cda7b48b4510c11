"""End-to-end benchmark of the three production jobs.

Run from the repository root::

    python3 jobbench/run.py --workload backfill_skewed --seed 7 --seconds 8 --trace 0
    python3 jobbench/run.py --workload all --seed 7

One process drives one workload on one ``local[<cores>]`` SparkSession,
calling the job's ``main(argv)`` in-process, one call at a time (a closed
loop with one client). It sets up the inputs, warms the JVM up, times job
calls for ``--seconds``, checks the outputs and prints every metric with
its unit; the last stdout line is one JSON object. ``--trace 1`` makes,
instead of the timed calls, one traced call (spans, Spark event log,
streaming progress) between two untraced ones, and reports the per-layer
metrics instead of the end-to-end ones. ``--workload all``
runs every workload in turn, each in its own process.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".jobbench_work")

WORKLOAD_NAMES = ("backfill_skewed", "incremental_upsert", "stream_drain")
# the program under test; without it the benchmark refuses to run
REQUIRED = (
    "acoustic_feature_extractor_spark/__init__.py",
    "jobs/run_turn_features.py",
    "jobs/incremental_features.py",
    "jobs/stream_turn_features.py",
)

WARMUP_RUNS = 1  # untimed job calls before timing (JIT warm-up)
MIN_SAMPLES = 3  # timed job calls, however short --seconds is

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}
# per-layer metrics every workload of BENCHMARK.json measures: the result
# line of a traced run carries exactly these
PER_LAYER = {
    "sources.scan.input_rows": "count",
    "sources.scan.read_amp": "ratio",
    "sources.scan.input_bytes": "B",
    "sources.scan.task_s": "s",
    "sources.write.output_rows": "count",
    "sources.write.output_bytes": "B",
    "operators.agg.task_s": "s",
    "operators.agg.jobs": "count",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.shuffle_write_bytes": "B",
    "plans.pipeline.window.tasks": "count",
    "plans.pipeline.window.task_s": "s",
    "plans.pipeline.window.task_max_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.core_busy_share": "share",
}
# per-layer metrics printed and dumped for one workload, but kept out of
# the result line, which carries no metric that can be 0 (as error_rate).
# Each reads 0 on some workload: a layer that workload does not run, GC
# or spill when none falls inside the traced call. trace.overhead_s is a
# difference of two job calls, often below 0 and as large as their noise.
_ALL = {"plans.pipeline.spill_bytes": "B", "spark.gc_s": "s", "trace.overhead_s": "s"}
REPORT_ONLY = {
    "backfill_skewed": {
        "plans.lineage.saves": "count",
        "plans.lineage.manifest_save_s": "s",
        "jobs.bucket_s.p50": "s",
        "jobs.bucket_s.max": "s",
        **_ALL,
    },
    "incremental_upsert": {
        "sources.snapshots.rows_rewritten": "count",
        "sources.snapshots.dirs_rewritten": "count",
        "sources.snapshots.merge_upsert_s": "s",
        "sources.snapshots.history_s": "s",
        **_ALL,
    },
    "stream_drain": {
        **_ALL,
        "streaming.batches": "count",
        "streaming.batch_s.p50": "s",
        "streaming.batch_s.max": "s",
        "streaming.state_rows": "count",
        "streaming.state_bytes": "B",
        "streaming.dedup_dropped_rows": "count",
        "streaming.task_s": "s",
    },
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _mem_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb / 2**20


def _git_sha() -> str:
    """HEAD of the checkout, when it is a git repository of its own."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def start_session(work: str, cores: int, trace: bool):
    """One local[cores] session sized for this host; scratch stays in ``work``."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    heap_gb = max(1, min(2, int(_mem_gb() // 4)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_gb}g",
        # one process makes many job calls; keep the status store as small
        # as a single job's run needs instead of 1000 executions and jobs
        "spark.sql.ui.retainedExecutions": "50",
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.ui.retainedTasks": "10000",
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + events,
            }
        )
    from acoustic_feature_extractor_spark.session import get_spark

    return get_spark(app_name="jobbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_record(spark, cores: int) -> dict:
    return {
        "cores": cores,
        "mem_gb": round(_mem_gb(), 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(),
    }


def run_workload(args) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"jobbench: the program is missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from eventlog import parse, read_events
    from tracing import Spans, dump, layer_metrics, progress_listener
    from workloads import WORKLOADS, run_job

    cores, trace = _cores(), bool(args.trace)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_session(work, cores, trace)
    jvm_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed)
    attempted, failures, samples, rows_written, calls = 0, [], [], [], []
    phases: dict[str, float] = {}

    def call(timed: bool, around=contextlib.nullcontext()) -> float:
        nonlocal attempted
        wl.reset()
        attempted += 1
        t = time.perf_counter()
        try:
            with around:
                out = run_job(wl.job, wl.argv())
        except Exception as e:  # a failed run is counted, not fatal
            traceback.print_exc()
            failures.append((attempted, f"{type(e).__name__}: {e}"))
            return time.perf_counter() - t
        dt = time.perf_counter() - t
        calls.append(round(dt, 3))
        problems = wl.check_run(out)
        failures.extend((attempted, p) for p in problems)
        if timed and not problems:
            samples.append(dt)
            rows_written.append(wl.rows_written(out))
        return dt

    try:
        t = time.perf_counter()
        wl.stage(os.path.join(work, "data"))
        setup_s = jvm_s + time.perf_counter() - t

        for _ in range(WARMUP_RUNS):
            call(timed=False)
        loop_t0 = phases["warmup"] = time.perf_counter()
        if trace:
            # the traced call between two untraced ones: its overhead is
            # taken against their mean, which cancels a steady warm-up drift
            call(timed=True)
            listener = progress_listener()
            spark.streams.addListener(listener)
            since_ms = time.time() * 1000
            spans = Spans()
            traced_wall_s = call(timed=False, around=spans)
            until_ms = time.time() * 1000
            if wl.job == "stream_turn_features.py" and not listener.terminated.wait(60):
                failures.append((attempted, "no query-terminated event"))
            spark.streams.removeListener(listener)
            counters = wl.counters()
            call(timed=True)
        else:
            while time.perf_counter() - loop_t0 < args.seconds or len(samples) < MIN_SAMPLES:
                call(timed=True)
                if len(failures) > 3:
                    break
        phases["timed"] = time.perf_counter()
        failures.extend((attempted, p) for p in wl.check_output())
        host = host_record(spark, cores)
        from pyspark import SparkContext

        peak_rss_mb = _vm_hwm_mb(SparkContext._gateway.proc.pid) + _vm_hwm_mb("self")
    finally:
        phases["end"] = time.perf_counter()
        stop_session(spark)
        phases["stopped"] = time.perf_counter()

    wall_s = statistics.median(samples) if samples else float("nan")
    q = statistics.quantiles(samples, n=4) if len(samples) > 1 else [wall_s] * 3
    failed = len({run for run, _ in failures})
    values = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "turns_per_s": wl.input_turns / wall_s,
        "write_amp": statistics.median(rows_written) / wl.touched_turns if rows_written else float("nan"),
        "peak_rss_mb": peak_rss_mb,
    }
    units, printed = END_TO_END, END_TO_END
    if trace:
        events = read_events(os.path.join(work, "eventlog", os.listdir(os.path.join(work, "eventlog"))[0]))
        log = parse(events, since_ms, until_ms)
        values = layer_metrics(
            log,
            spans,
            listener.progress,
            counters,
            input_turns=wl.input_turns,
            cores=cores,
            traced_wall_s=traced_wall_s,
            untraced_wall_s=wall_s,
        )
        os.makedirs(WORK, exist_ok=True)
        units, printed = PER_LAYER, {**PER_LAYER, **REPORT_ONLY[args.workload]}
        values = {k: values[k] for k in printed}
        dump(os.path.join(WORK, f"trace_{args.workload}.json"), host, spans, log, listener.progress, values)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print("host " + json.dumps(host))
    print(f"setup      jvm {jvm_s:.3f} s + staging {setup_s - jvm_s:.3f} s")
    print(f"wall_s     median {wall_s:.4f} s, quartiles {q[0]:.4f} / {q[2]:.4f} s, n={len(samples)}")
    print("phases     " + ", ".join(f"{k} at {v - t0:.1f} s" for k, v in phases.items()))
    print(f"calls      {calls} s ({WARMUP_RUNS} warm-up)")
    print(f"input      {wl.input_turns} turns per run, {wl.touched_turns} turns in touched conversations")
    for name, unit in printed.items():
        print(f"  {name:38s} {values[name]:>16.6g} {unit}")
    print(f"  {'error_rate':38s} {failed / attempted:>16.6g} share ({failed} of {attempted} runs failed)")
    for run, problem in failures:
        print(f"FAILED run {run}: {problem}")
    print(f"correct {not failures}")
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


def run_all(args) -> int:
    """Every workload, one child process each, then one summary line."""
    results, code = {}, 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed)]
        cmd += ["--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        code = code or proc.returncode
        if lines and lines[-1].startswith("{"):
            results[name] = json.loads(lines[-1])
    print(
        json.dumps(
            {
                "correct": len(results) == len(WORKLOAD_NAMES) and all(r["correct"] for r in results.values()),
                "attempted": sum(r["attempted"] for r in results.values()),
                "failed": sum(r["failed"] for r in results.values()),
                "metrics": {f"{w}.{m}": v for w, r in results.items() for m, v in r["metrics"].items()},
            }
        )
    )
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0, help="how long job calls are timed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
