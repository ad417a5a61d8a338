"""Small-file compaction: rewrite a parquet table into target-sized files.

The long-running-lakehouse problem the reference never meets: streaming
and incremental writes (streaming/events.py, plans/medallion.py
append_fact_increment) accumulate small files; scans then pay per-file
open cost and lose row-group-sized reads. Compaction bin-packs data back
into ~target-sized files, preserving partition directories.

Spark-first: sizing is computed from the table's actual on-disk bytes;
the rewrite is one job (scan → repartition(n) → overwrite), and a table
already at or under its target file count is left alone (Delta's
OPTIMIZE rule: files at target size are never rewritten). For
partitioned tables, pass partition_by so directory layout (and partition
pruning) is preserved. At 100 TB run it per-partition on a schedule,
compacting only partitions whose small-file count crosses a threshold.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from gravity_books_datalakehouse_spark.sources.readers import read_parquet


def table_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a parquet table directory."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite ``path`` into ceil(total/target) files; returns (files
    before, files after). A table that already has no more files than
    that is returned as ``(n, n)`` without being read or written.

    The compacted output is written to a sibling staging directory and
    then atomically swapped over the original — the source table is never
    the write target, so a mid-job failure (executor loss, eviction of a
    cached block, kill -9) leaves the original intact. The previous
    cache()+count()-then-overwrite-in-place approach could recompute from
    a source that was already being deleted and destroy the table.
    """
    import shutil

    n_before, total = table_file_stats(path)
    n_files = max(1, -(-total // target_file_bytes))
    if n_before <= n_files:
        return n_before, n_before
    staging = path.rstrip("/") + ".compact-staging"
    old = path.rstrip("/") + ".compact-old"
    for d in (staging, old):
        if os.path.isdir(d):
            shutil.rmtree(d)  # leftover from a prior crash
    writer = read_parquet(spark, path).repartition(n_files).write.mode(
        "errorifexists"
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    # Two renames: the only non-atomic instant is between them, and a
    # crash there is recoverable (original fully preserved at `old`).
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    n_after, _ = table_file_stats(path)
    return n_before, n_after
