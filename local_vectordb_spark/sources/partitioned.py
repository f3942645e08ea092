"""Hive-partitioned table layout: the on-disk organization that makes
100 TB queryable.

At scale, the single biggest scan-cost lever is not reading data at
all: a table written as ``path/p=.../part-*.parquet`` lets every
engine prune whole directories from a query with a partition-column
filter before any I/O happens (Spark shows this as PartitionFilters in
the scan node, distinct from row-group PushedFilters). The reference
engine has no layout tier — every query walks every record
(/root/reference/src/models/collection.py:58-75); this module is the
Spark-first replacement.

Two deliberate design rules:

- Partition by LOW-cardinality columns that queries filter on (date,
  lang, source) — partitioning by a high-cardinality key creates the
  millions-of-tiny-files layout that kills listing and planning time.
- Re-compact after incremental appends: streaming/micro-batch sinks
  accumulate small files; ``compact`` rewrites each partition to
  size-targeted files so scans stay sequential.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> bool:
    """Write a hive-partitioned parquet table with ONE file per
    partition leaf: a shuffle on the partition columns lands every
    leaf in exactly one task, so file counts stay bounded however the
    input was split. Partition columns move into directory names (and
    out of the data files).

    A frame with no rows writes a flat parquet instead: a partitioned
    write of zero rows leaves a directory no reader can infer a schema
    from. The flat file keeps the partition columns as ordinary
    columns, so readers and partition filters see the same schema and
    simply find no rows. Returns whether the partitioned layout was
    written."""
    df.repartition(*partition_cols).write.mode(mode).partitionBy(
        *partition_cols
    ).parquet(path)
    if any(n.startswith(f"{partition_cols[0]}=") for n in os.listdir(path)):
        return True
    df.write.mode(mode).parquet(path)
    return False


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned table; partition columns come back as real
    columns from the directory structure. Filters on them prune whole
    directories at planning time (PartitionFilters in the scan)."""
    return spark.read.parquet(path)


def partition_file_counts(spark: SparkSession, path: str) -> dict[str, int]:
    """Files per partition directory (layout health check): a
    partition with hundreds of small files is a compaction candidate."""
    df = read_partitioned(spark, path)
    files = df.inputFiles()
    out: dict[str, int] = {}
    for f in files:
        rel = f.split(path, 1)[-1].strip("/")
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        out[part] = out.get(part, 0) + 1
    return out


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    partition_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> None:
    """Rewrite a partitioned table with size-targeted files per
    partition: estimate total bytes from the current files, derive the
    file count, and let a partition-local repartition lay them out.
    The 128 MB default matches one HDFS/S3-friendly scan unit — small
    enough to parallelize, big enough to amortize footer/open costs."""
    df = read_partitioned(spark, path)
    total_bytes = 0
    for f in df.inputFiles():
        local = f.removeprefix("file:")
        if os.path.exists(local):
            total_bytes += os.path.getsize(local)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    (
        df.repartition(n_files, *partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(out_path)
    )
