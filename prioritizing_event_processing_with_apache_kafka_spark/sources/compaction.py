"""Small-file compaction for parquet directories.

Streaming sinks, per-batch writes, and over-parallel jobs leave table
directories with thousands of KB-scale files; at 100 TB the resulting
file-listing and task-scheduling overhead (one scan task per tiny
file) dominates query startup. Compaction rewrites a directory into
``ceil(total_bytes / target_file_bytes)`` right-sized files.

Sizing comes from a driver-side recursive listing through the Hadoop
FileSystem API — the same metadata walk Spark's own scan planning
performs, so it works on any supported scheme (file://, hdfs://,
s3a://) and costs no data read. The rewrite itself is one shuffle:

- default: ``repartition(n)`` — round-robin, perfectly even output
  files;
- with ``order_by``: ``repartitionByRange(n, *cols)`` + a sort within
  partitions — preserves (or establishes) clustering so min/max file
  stats stay tight and downstream range predicates keep pruning
  (pair with ``sources/zorder.py`` for multi-column locality).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

__all__ = ["directory_bytes", "compact_parquet", "partition_columns"]


def partition_columns(spark: SparkSession, path: str) -> list[str]:
    """Hive-style partition columns of a parquet directory, outermost
    first, discovered by walking ``key=value`` directory levels (the
    same metadata-only walk Spark's scan planning performs)."""
    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    cols: list[str] = []
    current = fs_path
    while True:
        level = None
        for status in fs.listStatus(current):
            name = status.getPath().getName()
            if status.isDirectory() and "=" in name and not name.startswith("_"):
                level = (name.split("=", 1)[0], status.getPath())
                break
        if level is None:
            return cols
        cols.append(level[0])
        current = level[1]


def directory_bytes(spark: SparkSession, path: str, *, suffix: str = ".parquet") -> int:
    """Total size of ``suffix`` files under ``path`` (recursive,
    metadata-only — no data is read)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    total = 0
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(suffix):
            total += status.getLen()
    return total


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_by: list[str] | None = None,
) -> int:
    """Rewrite ``in_path`` into right-sized parquet files at
    ``out_path``; returns the number of output files written.

    Hive-partitioned input (``key=value`` directory levels, e.g. an
    ``ivf_cell=N`` layout written with ``partitionBy``) keeps its
    partitioning: the discovered partition columns are re-applied
    with ``partitionBy`` on the rewrite, so the partition-pruning
    layout the directory structure encodes survives compaction
    instead of being silently flattened into data columns.
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    total = directory_bytes(spark, in_path)
    n = max(1, math.ceil(total / target_file_bytes))
    df: DataFrame = spark.read.parquet(in_path)
    part_cols = partition_columns(spark, in_path)
    if order_by:
        df = df.repartitionByRange(n, *order_by).sortWithinPartitions(*order_by)
    elif part_cols:
        # shuffle BY the partition columns: round-robin would hand
        # every task rows of every partition value and the writer
        # would emit n × #partitions files — worse fragmentation than
        # the input. Hash-clustering caps output at one file per
        # (task, value) with each value on one task.
        df = df.repartition(n, *part_cols)
    else:
        df = df.repartition(n)
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_path)
    return n
