"""Record the small event log the event-log tests read.

Run from the repository root::

    python3 jobbench/tests/record_eventlog.py

It runs four tiny queries on local[2] with the event log on and stores the
log, gzipped, as ``jobbench/tests/data/small_eventlog.json.gz``:

1. write 1,000 rows (``id``, ``k = id % 10``, ``ts``) as parquet;
2. read them back and count rows per ``k`` (scan + hash aggregate);
3. read them back, number the rows of each ``k`` and write the result
   (scan + exchange + window + write);
4. drain the parquet directory as a stream through a watermarked
   ``dropDuplicatesWithinWatermark`` on ``k`` (streaming state store).

Only the events the parser reads are kept, with absolute paths and job
properties taken out, so the fixture names nothing of the machine that
recorded it.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import re
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data", "small_eventlog.json.gz")

# the event kinds eventlog.parse reads; the SQL ones carry sparkPlanInfo
KEEP = (
    "SparkListenerJobStart",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)
_ABS_PATH = re.compile(r"/(?:root|opt|usr|tmp|home)/[^\s,\])\"']*")


def scrub(lines) -> list[str]:
    """The kept events of a raw log, one JSON line each, paths replaced."""
    out = []
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        if event["Event"].rsplit(".", 1)[-1] not in KEEP:
            continue
        event.pop("Properties", None)
        out.append(_ABS_PATH.sub("<path>", json.dumps(event)) + "\n")
    return out


def main() -> int:
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    work = os.path.join(ROOT, ".jobbench_work", "record_eventlog")
    shutil.rmtree(work, ignore_errors=True)
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    try:
        data, numbered = os.path.join(work, "data"), os.path.join(work, "numbered")
        spark.range(1000, numPartitions=2).select(
            "id",
            (F.col("id") % 10).alias("k"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
        ).write.parquet(data)
        spark.read.parquet(data).groupBy("k").count().collect()
        w = Window.partitionBy("k").orderBy("id")
        spark.read.parquet(data).withColumn("n", F.row_number().over(w)).write.parquet(numbered)
        schema = spark.read.parquet(data).schema
        q = (
            spark.readStream.schema(schema)
            .parquet(data)
            .withWatermark("ts", "1 minute")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.stop()
    (log,) = glob.glob(os.path.join(events, "*"))
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(log) as src, gzip.open(OUT, "wt") as dst:
        dst.writelines(scrub(src))
    shutil.rmtree(work)
    print(OUT)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
