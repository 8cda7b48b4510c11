"""Table layer: Iceberg-first with a parquet fallback (sandbox-safe).

The reference's "table" is a directory of per-entity .npy files keyed by
filename stem (``extract_collected_local.py:55-58``); ours is one table
partitioned so the engine's hot path — windows and as-of joins keyed by
(conv_id, ts) — reads co-located, pre-sorted runs:

- Iceberg (production): bucketed by conv_id, sorted within files by
  (conv_id, turn_idx); snapshots give the resume story.
- Parquet (sandbox fallback, Iceberg runtime jar absent): directory layout
  with ``repartition(conv_id)`` + ``sortWithinPartitions`` so scans still
  deliver clustered runs.

Schema is enforced (StructType), never inferred — the opposite of the
reference's inferred-at-load convention (``sampling_data.py:183-184``),
deliberately: at 10^12 rows a schema drift must fail the write, not the
hundredth downstream job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

def write_table(
    df: DataFrame,
    path: str,
    key: str = "conv_id",
    order: str = "turn_idx",
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Sorted, clustered write (parquet backend).

    ``repartition(key)`` clusters each entity into one file group;
    ``sortWithinPartitions(key, order)`` lays rows out so window/as-of
    consumers read pre-sorted runs (Iceberg's sorted-write equivalent).
    """
    n = n_buckets or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartition(n, key)
        .sortWithinPartitions(key, order)
        .write.mode(mode)
        .parquet(path)
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    key: str = "conv_id",
    order: str = "turn_idx",
    n_buckets: int = 16,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Catalog-bucketed write (Iceberg's ``bucket(N, key)`` partition
    transform, expressed through Spark's native bucketing).

    Tables bucketed on the same key with the same bucket count equi-join
    and aggregate WITHOUT any exchange — at 100 TB that turns the
    repeated (conv_id) shuffles of a feature-backfill job into pure
    map-side work, paid once at write time. ``sortBy(key, order)`` lays
    each bucket out pre-sorted so window consumers skip the sort too when
    buckets land as single files. Requires ``saveAsTable`` (bucket
    metadata lives in the catalog; the default in-memory catalog +
    ``spark.sql.warehouse.dir`` is enough — no Hive service needed).
    """
    sort_cols = [key] + ([order] if order != key else [])
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(*sort_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def read_bucketed_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table BY NAME — reading the parquet path directly
    would drop the bucket metadata and reintroduce the shuffle."""
    return spark.table(table_name)


def validate_transcripts(df: DataFrame) -> DataFrame:
    """Violations of the transcripts contract (empty ⇔ valid):
    contiguous 0-based turn_idx per conv and non-null key columns —
    the reference's interval invariants (``phoneme.py:69-74``) recast."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.withColumn("_rn", F.row_number().over(w) - 1)
        .where(
            (F.col("_rn") != F.col("turn_idx"))
            | F.col("conv_id").isNull()
            | F.col("ts").isNull()
        )
        .drop("_rn")
    )
