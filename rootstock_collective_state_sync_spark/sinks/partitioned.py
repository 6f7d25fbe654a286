"""Partitioned parquet writes with dynamic-partition-overwrite.

The warehouse ``INSERT OVERWRITE PARTITION`` contract: rewriting one
day of a date-partitioned table replaces ONLY the partitions present
in the incoming frame and leaves every other partition byte-for-byte
intact. At 100 TB this is the difference between an idempotent daily
backfill (rewrite 1/365th of the table) and clobbering the dataset —
Spark's static overwrite mode deletes the whole root first.

Built on the engine primitives Spark already ships:

- ``partitionBy(...)`` on the writer lays out
  ``col=value/part-*.parquet`` directories, so partition-pruned reads
  (``WHERE day = ...``) touch one directory (PartitionFilters in the
  scan, asserted by the reader test);
- ``spark.sql.sources.partitionOverwriteMode=dynamic`` scopes
  ``mode("overwrite")`` to the partitions present in the incoming
  DataFrame. The conf is set per-write and restored, never leaked to
  the session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic_overwrite: bool = True,
) -> None:
    """Write ``df`` partitioned by ``partition_cols``; with
    ``dynamic_overwrite`` only the incoming partitions are replaced."""
    spark = df.sparkSession
    prev = spark.conf.get(_MODE_KEY, None)
    try:
        spark.conf.set(_MODE_KEY, "dynamic" if dynamic_overwrite else "static")
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(_MODE_KEY)
        else:
            spark.conf.set(_MODE_KEY, prev)


def read_partition(
    spark: SparkSession, path: str, **eq_filters
) -> DataFrame:
    """Read with partition-pruning filters (``col=value``) — the scan
    lists only the matching directories."""
    df = spark.read.parquet(path)
    for c, v in eq_filters.items():
        df = df.filter(df[c] == v)
    return df
