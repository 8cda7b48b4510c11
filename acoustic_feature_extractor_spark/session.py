"""SparkSession construction tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings translate to a
multi-executor cluster (AQE, Arrow, sane shuffle partitioning). The
reference's parallelism story is ``multiprocessing.Pool()`` over all cores
(``/root/reference/src/extractor/extract_f0.py:62-63``); ours is Spark task
parallelism over partitions.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of the host's physical memory (``MemTotal``), at least 1g."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, mb // 2)}m"


def get_spark(
    app_name: str = "afe_spark",
    cores: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (→ ``local[n]``), ``"*"``, or None (env
    ``SPARK_GRAFT_CPUS`` or all cores). Shuffle partitions are 2× cores
    (at least 8) — enough tasks for AQE to coalesce, not the 200 default
    that over-parallelizes local runs; ``extra_conf`` overrides any
    setting. The driver heap is ``SPARK_DRIVER_MEM`` or, unset, half of
    the host's memory.

    Python call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every ``Column`` function call looks up the active session, reads
    ``spark.sql.stackTracesInDataFrameContext``, walks the Python stack
    and sets and clears ``PySparkCurrentOrigin``, all over py4j: one
    ``jobs/incremental_features.py`` increment on a 1,000-conversation
    source makes 1,798 py4j calls with it and 678 without. An error then
    lacks only its "DataFrame query context" (the Python file and line
    that built the failing expression); its message, error class and JVM
    stack are unchanged. PySpark reads the setting once per process, at
    the first ``Column`` function call.

    A session that is already running gets only ``extra_conf``: the
    defaults above would reset its caller's runtime settings (shuffle
    partitions, AQE, timezone) whenever a job is called in-process.
    """
    builder = SparkSession.builder
    if SparkContext._active_spark_context is None:
        if cores is None:
            cores = os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4)
        n_cores = os.cpu_count() or 4 if cores == "*" else int(cores)

        builder = (
            builder.master(f"local[{cores}]")
            .appName(app_name)
            .config("spark.sql.shuffle.partitions", str(max(2 * n_cores, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            # int64-micros timestamps (not legacy INT96): footer min/max
            # stats exist, so snapshot-log data skipping can prune on time
            # columns (INT96 carries no statistics); also Iceberg's required
            # physical type, keeping written files spec-compatible
            .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
            )
            .config("spark.ui.enabled", "false")
            .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
            .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
