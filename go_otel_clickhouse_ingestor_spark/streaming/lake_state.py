"""Partitioned parquet state shared by the foreachBatch maintainers
(``cdc_stream.upsert_foreach_batch``, ``matview.matview_foreach_batch``,
``join_matview.join_matview_foreach_batch``).

Each maintainer keeps its state as a parquet table partitioned by one
column and, per micro-batch, reads only the partitions the batch
touches, then replaces or appends exactly those.  Every path goes
through Spark's own readers, writers and Hadoop ``FileSystem``, so a
state dir may be a local path or any Hadoop URI (``file://``,
``hdfs://``, ``s3a://``).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_partitions(
    spark: SparkSession, path: str, column: str, values: list
) -> DataFrame | None:
    """The stored rows whose partition ``column`` is in ``values``
    (a partition-pruned scan), or None when no state exists yet.

    ONLY the missing-path and empty-dir cases mean "no prior state"
    (first batch).  Any other failure (transient IO, corrupt footer,
    schema drift) propagates so Structured Streaming retries the batch —
    swallowing it would overwrite the touched partitions with batch-only
    rows: permanent state loss instead of a retryable error."""
    try:
        return spark.read.parquet(path).filter(F.col(column).isin(values))
    except AnalysisException as exc:
        cls = exc.getCondition() or ""
        if "PATH_NOT_FOUND" not in cls and "UNABLE_TO_INFER_SCHEMA" not in cls:
            raise
        return None


def overwrite_partitions(df: DataFrame, path: str, column: str) -> None:
    """Replace the partitions of ``column`` present in ``df``, leaving
    every other partition untouched (per-write dynamic overwrite — no
    session conf is changed)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(column)
        .parquet(path)
    )


def drop_partitions(spark: SparkSession, path: str, column: str, values) -> None:
    """Delete the ``column=value`` partition dirs (missing ones are a
    no-op).  Dynamic overwrite only replaces partitions PRESENT in the
    written data, so a partition whose rows all went away must be
    dropped explicitly."""
    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    for value in values:
        part = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/{column}={value}")
        part.getFileSystem(conf).delete(part, True)
