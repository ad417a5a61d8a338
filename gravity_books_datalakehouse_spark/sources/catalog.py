"""Testdata catalog: lazy Parquet scans + temp-view registration (S3, S6).

Mirrors the reference's schema-on-read view registration
(test_queries/test_queries.py:91-95 — ``CREATE OR REPLACE VIEW t AS
SELECT * FROM 's3://…/gold/t.parquet'``) as
``spark.read.parquet(path).createOrReplaceTempView(name)``.

Scale notes: ``spark.read.parquet`` is a lazy relation — column pruning
and predicate pushdown reach the scan (verify with
``df.explain()`` → ``PushedFilters`` / ``ReadSchema``). At 100 TB each of
these tables becomes a directory of many files (ideally partitioned, e.g.
fact by date); the same one-liner scans it in parallel across executors.

Every scan goes through ``readers.read_parquet``, whose schema memo is
keyed by ``(applicationId, absolute local path)`` and checked against the
file's version (inode, size, mtime; per file for a directory), so a
repeated query over an unchanged table runs no footer-inference job,
and a first read of a single file resolves its footer on the driver.
The memo covers local paths only; on an object store the upgrade path
is a table log (Delta) that records schema per commit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gravity_books_datalakehouse_spark.sources.readers import read_parquet

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one testdata table (schema memoized per file
    version, see ``readers.read_parquet``)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load several tables into a name→DataFrame dict (the reference's only
    'IR' is such a dict of eager pandas frames, etl_script_dwh/etl_dwh.py:32-45;
    ours stay lazy)."""
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register each table as a temp view for ``spark.sql`` (S6)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
