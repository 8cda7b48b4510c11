"""The three benchmark workloads: one production job each, its staged
inputs, and the checks of its outputs.

A workload stages its inputs from ``generate_transcripts(seed=...)``
(:meth:`Workload.stage`), puts its output location back into the state a
run starts from (:meth:`Workload.reset`, untimed), names the job and its
arguments, and checks what a run wrote: a cheap check on every run
(:meth:`Workload.check_run`) and a full comparison against a recompute on
the last one (:meth:`Workload.check_output`).
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import io
import json
import os
import random
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acoustic_feature_extractor_spark.datagen import SESSION_GAP_SECONDS, generate_transcripts
from acoustic_feature_extractor_spark.plans.pipeline import turn_features
from acoustic_feature_extractor_spark.sources import snapshots as snap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# staged inputs are written as this many parquet files, on any host
INPUT_FILES = 8
# relative tolerance for float feature columns in the output checks
RTOL = 1e-9


_jobs: dict = {}


def run_job(job: str, argv: list[str]) -> dict:
    """Call ``jobs/<job>``'s ``main(argv)`` in this process and return the
    JSON object it prints last."""
    if job not in _jobs:
        spec = importlib.util.spec_from_file_location(f"jobbench_{job[:-3]}", os.path.join(ROOT, "jobs", job))
        _jobs[job] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_jobs[job])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = _jobs[job].main(argv)
    if code:
        raise RuntimeError(f"{job} exited with {code}: {buf.getvalue()[-500:]}")
    return json.loads([line for line in buf.getvalue().splitlines() if line.startswith("{")][-1])


def mismatched_rows(got: DataFrame, want: DataFrame, key: list[str], rtol: float) -> int:
    """Rows that differ between two frames keyed by ``key``: a key on one
    side only, a key repeated, or any column unequal. Floats agree within
    ``rtol`` (relative); every other type must be equal, NULL-safe. One
    Spark job."""
    if sorted(got.columns) != sorted(want.columns):
        return 1
    w, g = want.alias("w"), got.alias("g")
    joined = w.join(g, [F.col(f"w.{k}") == F.col(f"g.{k}") for k in key], "full_outer")
    bad = F.lit(False)
    for k in key:
        bad = bad | F.col(f"w.{k}").isNull() | F.col(f"g.{k}").isNull()
    for c, dtype in want.dtypes:
        if c in key:
            continue
        a, b = F.col(f"w.{c}"), F.col(f"g.{c}")
        if dtype in ("double", "float"):
            same = (a.isNull() & b.isNull()) | (F.isnan(a) & F.isnan(b)) | (
                F.abs(a - b) <= F.lit(rtol) * F.greatest(F.abs(a), F.lit(1.0))
            )
            same = F.coalesce(same, F.lit(False))
        else:
            same = a.eqNullSafe(b)
        bad = bad | ~same
    row = joined.agg(
        F.sum(bad.cast("int")).alias("bad"),
        F.count(F.lit(1)).alias("rows"),
        # a key repeated on either side joins into more rows than keys
        F.countDistinct(*[F.coalesce(F.col(f"w.{k}"), F.col(f"g.{k}")) for k in key]).alias("keys"),
    ).first()
    return (row["bad"] or 0) + row["rows"] - row["keys"]


class Workload:
    name = ""
    job = ""  # file name under jobs/

    def __init__(self, spark: SparkSession, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.input_turns = 0  # turns the job processes per run (turns_per_s)
        self.touched_turns = 0  # turns of the conversations a run touches

    def stage(self, data_dir: str) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        raise NotImplementedError

    def argv(self) -> list[str]:
        raise NotImplementedError

    def rows_written(self, out: dict) -> int:
        return int(out["rows_written"])

    def check_run(self, out: dict) -> list[str]:
        raise NotImplementedError

    def check_output(self) -> list[str]:
        raise NotImplementedError

    def counters(self) -> dict:
        """Per-layer counters only the workload can read (see trace.layer_metrics)."""
        return {}


class BackfillSkewed(Workload):
    """``jobs/run_turn_features.py`` over a staged parquet input, 8 buckets."""

    name = "backfill_skewed"
    job = "run_turn_features.py"
    # 2000 conversations of 5-50 turns, three of them 10,000-turn megas
    N_CONVS, MEGA_EVERY, MEGA_TURNS, BUCKETS = 2000, 500, 10000, 8

    def stage(self, data_dir: str) -> None:
        self.input = os.path.join(data_dir, "input")
        self.output = os.path.join(data_dir, "output")
        t = generate_transcripts(
            self.spark,
            n_convs=self.N_CONVS,
            seed=self.seed,
            mega_every=self.MEGA_EVERY,
            mega_turns=self.MEGA_TURNS,
        )
        t.repartition(INPUT_FILES).write.parquet(self.input)
        self.input_turns = self.touched_turns = self.spark.read.parquet(self.input).count()

    def reset(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)

    def argv(self) -> list[str]:
        return ["--input", self.input, "--output", self.output, "--buckets", str(self.BUCKETS)]

    def _manifest(self) -> dict:
        with open(os.path.join(self.output, "_manifest", "manifest.json")) as f:
            return json.load(f)

    def check_run(self, out: dict) -> list[str]:
        if out["rows_written"] != self.input_turns:
            return [f"rows_written {out['rows_written']} != input turns {self.input_turns}"]
        return []

    def check_output(self) -> list[str]:
        stats = self._manifest()["args"]["_frozen_stats"]
        want = turn_features(
            self.spark.read.parquet(self.input),
            gap_seconds=SESSION_GAP_SECONDS,
            frozen_stats=stats,
        )
        got = self.spark.read.parquet(self.output).drop("bucket")
        n = mismatched_rows(got, want, ["conv_id", "turn_idx"], RTOL)
        return [f"{n} output rows differ from turn_features(input, frozen stats)"] if n else []

    def counters(self) -> dict:
        return {"bucket_s": [p["seconds"] for p in self._manifest()["partitions"]]}


class IncrementalUpsert(Workload):
    """``jobs/incremental_features.py`` applying one appended delta of 3 new
    turns on each of 1% of the conversations, none of them a mega one."""

    name = "incremental_upsert"
    job = "incremental_features.py"
    # generate_transcripts' default megas (every 97th conversation, 2000
    # turns); the 5-50-turn rest has about 21 conversations of each length
    N_CONVS, TOUCHED_LENGTH, NEW_TURNS = 1000, 27, 3

    def stage(self, data_dir: str) -> None:
        self.source = os.path.join(data_dir, "source")
        self.features = os.path.join(data_dir, "features")
        base = generate_transcripts(self.spark, n_convs=self.N_CONVS, seed=self.seed)
        snap.commit(base.repartition(INPUT_FILES), self.source)
        # the features table is built by the job's own first run
        run_job(self.job, self.argv())
        self.base_log = _read(os.path.join(self.features, snap._LOG))
        self.base_dirs = set(snap.history(self.features)[-1].dirs)

        # 1% of the conversations, all of one length: the rows a run
        # touches are then the same for every seed
        src = snap.read(self.spark, self.source)
        same_length = src.groupBy("conv_id").count().where(F.col("count") == self.TOUCHED_LENGTH)
        pool = sorted(r["conv_id"] for r in same_length.collect())
        self.touched = sorted(random.Random(self.seed).sample(pool, self.N_CONVS // 100))
        last = (
            src.where(F.col("conv_id").isin(self.touched))
            .groupBy("conv_id")
            .agg(F.max("turn_idx").alias("_m"), F.max("ts").alias("_ts"))
        )
        k = F.explode(F.sequence(F.lit(1), F.lit(self.NEW_TURNS))).alias("_k")
        turn = (F.col("_m") + F.col("_k")).cast("int")
        delta = last.select("conv_id", "_m", "_ts", k).select(
            "conv_id",
            turn.alias("turn_idx"),
            F.when(F.col("_k") % 2 == 1, "user").otherwise("assistant").alias("role"),
            F.concat("conv_id", F.lit(":"), turn.cast("string"), F.lit(":delta")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            (F.col("_ts") + F.make_interval(secs=F.col("_k").cast("double") * 30.0)).alias("ts"),
        )
        self.input_turns = snap.commit(delta, self.source).rows
        self.base_rows = snap.history(self.source)[0].rows
        self.touched_turns = len(self.touched) * (self.TOUCHED_LENGTH + self.NEW_TURNS)

    def reset(self) -> None:
        """Put the features table back to the job's first snapshot."""
        with open(os.path.join(self.features, snap._LOG), "w") as f:
            f.write(self.base_log)
        for d in glob.glob(os.path.join(self.features, "data", "snap-*")):
            if os.path.relpath(d, self.features) not in self.base_dirs:
                shutil.rmtree(d)

    def argv(self) -> list[str]:
        return ["--source", self.source, "--features", self.features]

    def check_run(self, out: dict) -> list[str]:
        if out.get("noop") or out.get("touched_convs") != len(self.touched):
            return [f"expected {len(self.touched)} touched conversations, got {out}"]
        return []

    def check_output(self) -> list[str]:
        spark, problems = self.spark, []
        cur = snap.read(spark, self.features)
        base = snap.read(spark, self.features, snapshot_id=1)
        rows = cur.count()
        if rows != self.base_rows + self.input_turns:
            problems.append(f"features table has {rows} rows, want {self.base_rows + self.input_turns}")
        touched = spark.createDataFrame([(c,) for c in self.touched], "conv_id string")
        key = ["conv_id", "turn_idx"]
        n = mismatched_rows(
            cur.join(touched, "conv_id", "left_anti"), base.join(touched, "conv_id", "left_anti"), key, 0.0
        )
        if n:
            problems.append(f"{n} untouched rows differ from the base table")
        stats = snap.history(self.features)[0].lineage["stats"]
        want = turn_features(
            snap.read(spark, self.source).join(touched, "conv_id", "left_semi"),
            gap_seconds=SESSION_GAP_SECONDS,
            frozen_stats=stats,
        )
        n = mismatched_rows(cur.join(touched, "conv_id", "left_semi"), want, key, RTOL)
        if n:
            problems.append(f"{n} touched rows differ from a recompute under the pinned stats")
        return problems

    def counters(self) -> dict:
        head = snap.history(self.features)[-1]
        if head.operation != "merge":
            return {}
        return {"rows_rewritten": head.rows, "dirs_rewritten": len(head.lineage["rewritten_dirs"])}


class StreamDrain(Workload):
    """``jobs/stream_turn_features.py --drain`` over 64 ts-ordered parquet
    files with about 1% planted duplicate rows, enriched as-of a
    slowly-changing per-conversation dimension."""

    name = "stream_drain"
    job = "stream_turn_features.py"
    N_CONVS, FILES = 2000, 64

    def stage(self, data_dir: str) -> None:
        spark = self.spark
        self.incoming = os.path.join(data_dir, "incoming")
        self.dim = os.path.join(data_dir, "dimension")
        self.output = os.path.join(data_dir, "output")
        # generated once and read back: every frame below reuses it
        generated = os.path.join(data_dir, "_generated")
        generate_transcripts(spark, n_convs=self.N_CONVS, seed=self.seed).write.parquet(generated)
        t = spark.read.parquet(generated)
        dups = t.where(F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(self.seed)), F.lit(100)) == 0)
        # a duplicate carries its original's ts, so range partitioning puts
        # both in one file: the dedup sees them in one micro-batch
        staging = os.path.join(data_dir, "_staging")
        t.unionByName(dups).repartitionByRange(self.FILES, "ts").write.parquet(staging)
        os.makedirs(self.incoming)
        files = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
        now = time.time()
        for i, f in enumerate(files):
            # the file source takes files oldest first: mtimes follow ts order
            dst = os.path.join(self.incoming, f"{i:03d}.parquet")
            shutil.move(f, dst)
            os.utime(dst, (now - len(files) + i, now - len(files) + i))
        shutil.rmtree(staging)

        # each conversation is on plan tier "free" from its first turn and
        # "pro" from its middle turn on
        span = t.groupBy("conv_id").agg(F.max("turn_idx").alias("_mx"), F.min("ts").alias("t0"))
        mid = (
            t.join(span, "conv_id")
            .where(F.col("turn_idx") == F.floor(F.col("_mx") / 2))
            .select("conv_id", F.col("ts").alias("tm"))
        )
        tiers = F.array(
            F.struct(F.col("t0").alias("ts"), F.lit("free").alias("tier")),
            F.struct(F.col("tm").alias("ts"), F.lit("pro").alias("tier")),
        )
        span.join(mid, "conv_id").select("conv_id", F.explode(tiers).alias("_d")).select(
            "conv_id", "_d.ts", "_d.tier"
        ).write.parquet(self.dim)

        # (conv_id, turn_idx) is unique in the generated turns
        self.touched_turns = t.count()
        self.input_turns = self.touched_turns + dups.count()
        shutil.rmtree(generated)

    def reset(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)

    def argv(self) -> list[str]:
        return ["--input", self.incoming, "--output", self.output, "--drain", "--dimension", self.dim]

    def rows_written(self, out: dict) -> int:
        return int(out["sink_rows"])

    def check_run(self, out: dict) -> list[str]:
        if out["sink_rows"] != self.touched_turns:
            return [f"sink_rows {out['sink_rows']} != input rows without duplicates {self.touched_turns}"]
        return []

    def check_output(self) -> list[str]:
        spark, problems = self.spark, []
        sink = spark.read.parquet(os.path.join(self.output, "features"))
        want = spark.read.parquet(self.incoming).select("conv_id", "turn_idx").distinct()
        got = sink.select("conv_id", "turn_idx")
        if sink.count() != self.touched_turns or got.exceptAll(want).count() or want.exceptAll(got).count():
            problems.append("sink rows are not the input rows minus the planted duplicates")
        tm = spark.read.parquet(self.dim).where(F.col("tier") == "pro").select("conv_id", F.col("ts").alias("_tm"))
        expected = F.when(F.col("ts") >= F.col("_tm"), "pro").otherwise("free")
        n = sink.join(tm, "conv_id", "left").where(~F.col("tier_dim").eqNullSafe(expected)).count()
        if n:
            problems.append(f"{n} sink rows carry a dimension payload not valid at their ts")
        return problems


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


WORKLOADS = {w.name: w for w in (BackfillSkewed, IncrementalUpsert, StreamDrain)}
