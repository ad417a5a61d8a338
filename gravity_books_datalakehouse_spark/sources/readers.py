"""Readers: JDBC full-table scan (S1) and Parquet scan (S3).

Reference: ``pd.read_sql_table(table, engine)`` eagerly pulls whole MySQL
tables through a single connection (etl_script_dwh/etl_dwh.py:42,
etl_script_dlh/etl_lakehouse.py:42) and ``pd.read_parquet`` pulls whole
objects (etl_lakehouse.py:51,80-82). Both are single-threaded and read all
columns. Spark-first replacements are lazy and parallel.

Parquet schema memo: an inferred ``spark.read.parquet`` runs a one-task
Spark job to read a footer before the query is even planned, and every
scan in the package pays it again for an unchanged file. ``read_parquet``
resolves each file version's schema once per session instead — the
metadata-in-the-table-log effect Delta Lake gets from its transaction
log, kept here in a driver dict because the Delta jars are unavailable.
"""

from __future__ import annotations

import json
import os
import stat
import threading
from urllib.parse import urlsplit

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: (applicationId, absolute local path) -> (file version, schema). Keyed
#: by applicationId like the plans/_cache memos, so a new session never
#: sees another session's entries.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple, StructType]] = {}
_SCHEMA_CACHE_MAX = 4096
_SCHEMA_LOCK = threading.Lock()

#: Session confs that change what Parquet schema inference returns for
#: the same bytes; their values are part of the file version, so a
#: toggled conf re-infers instead of reusing a schema it would not give.
_INFERENCE_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "false"),
    ("spark.sql.parquet.binaryAsString", "false"),
    ("spark.sql.parquet.int96AsTimestamp", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    ("spark.sql.parquet.mergeSchema", "false"),
    ("spark.sql.sources.partitionColumnTypeInference.enabled", "true"),
)


def _local_path(path: str) -> str | None:
    """Absolute local path of a scheme-less or ``file:`` path; None for
    any other URI scheme and for globs (Spark expands those itself)."""
    if any(c in path for c in "*?[{"):
        return None
    parts = urlsplit(path)
    if parts.scheme == "file":
        path = parts.path
    elif parts.scheme:
        return None
    return os.path.abspath(path)


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps ``name`` (HadoopFSUtils.
    shouldFilterOutPathName): hidden ``.``/``_`` names are skipped, except
    partition directories (``_x=1``) and Parquet summary files."""
    if name.startswith(("_common_metadata", "_metadata")):
        return True
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _file_version(spark: SparkSession, local: str) -> tuple | None:
    """Signature of what a scan of ``local`` would read, or None when the
    path does not exist. A file is ``(st_ino, st_size, st_mtime_ns)``; a
    directory is the sorted ``(relative name, size, mtime_ns)`` of every
    file Spark's listing keeps. Both carry the inference confs."""
    try:
        st = os.stat(local)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode):
        files = []
        for root, dirs, names in os.walk(local):
            dirs[:] = [d for d in dirs if _listed(d)]
            for name in names:
                if _listed(name):
                    full = os.path.join(root, name)
                    fst = os.stat(full)
                    files.append(
                        (os.path.relpath(full, local), fst.st_size, fst.st_mtime_ns)
                    )
        files.sort()
        version: tuple = tuple(files)
    else:
        version = (st.st_ino, st.st_size, st.st_mtime_ns)
    confs = tuple(spark.conf.get(k, d) for k, d in _INFERENCE_CONFS)
    return (confs, version)


def _footer_schema(spark: SparkSession, local: str) -> StructType | None:
    """The schema Spark's inference gives the single Parquet file
    ``local``, read from its footer on the driver with Spark's own
    footer-to-schema conversion (``ParquetFileFormat.readSchemaFromFooter``
    with a converter built from the session conf) — the code the
    inference job runs in its one task, minus the job. None when the
    footer cannot be read this way (a corrupt file, or JVM classes of
    another Spark version); the caller then infers as Spark does, which
    also raises Spark's own error for a bad file."""
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    try:
        hpath = jvm.org.apache.hadoop.fs.Path(local)
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark._jsc.hadoopConfiguration(), hpath
        )
        converter = parquet.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        )
        footer = jvm.org.apache.parquet.hadoop.Footer(hpath, meta)
        file_format = getattr(getattr(parquet, "ParquetFileFormat$"), "MODULE$")
        schema = file_format.readSchemaFromFooter(footer, converter)
    except Py4JError:
        return None
    return StructType.fromJson(json.loads(schema.json()))


def record_parquet_schema(
    spark: SparkSession, path: str, schema: StructType
) -> None:
    """Remember ``schema`` for the current version of ``path`` — called by
    writers right after they commit a directory whose schema they already
    know, so the next read of it runs no inference job. A no-op for
    non-local paths."""
    local = _local_path(path)
    if local is None:
        return
    version = _file_version(spark, local)
    if version is not None:
        _remember(spark, local, version, schema)


def _remember(
    spark: SparkSession, local: str, version: tuple, schema: StructType
) -> None:
    key = (spark.sparkContext.applicationId, local)
    with _SCHEMA_LOCK:
        _SCHEMA_CACHE.pop(key, None)
        if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))  # oldest entry
        _SCHEMA_CACHE[key] = (version, schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy, pruning/pushdown-capable Parquet scan (S3), with the schema
    resolved once per file version.

    Memo key: ``(applicationId, absolute local path)``. A hit needs the
    path's current version (see ``_file_version``) to equal the one the
    schema was recorded under; it then reads with
    ``spark.read.schema(memo).parquet(path)``, which plans with no
    footer-inference job. A miss resolves the schema and remembers it:
    for a single file from its footer on the driver (``_footer_schema``,
    no job either), for a directory by Spark's inference (Spark picks
    which footer to read). Only local (scheme-less or ``file:``) paths
    are memoized, because only they can be versioned with a ``stat``;
    any other URI infers every time. On an object store the upgrade
    path is a table log (Delta) that carries schema and file sizes with
    each commit, not a listing of the bucket per read."""
    local = _local_path(path)
    version = None if local is None else _file_version(spark, local)
    if version is None:
        return spark.read.parquet(path)  # remote, glob or missing: as before
    hit = _SCHEMA_CACHE.get((spark.sparkContext.applicationId, local))
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    footer = _footer_schema(spark, local) if os.path.isfile(local) else None
    if footer is None:
        df = spark.read.parquet(path)
    else:
        df = spark.read.schema(footer).parquet(path)
    _remember(spark, local, version, df.schema)
    return df


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
) -> DataFrame:
    """Parallel JDBC scan (S1).

    Unlike the reference's single-connection full read, passing
    ``partition_column`` + bounds splits the table into ``num_partitions``
    concurrent range reads — the only way a 100 TB-adjacent OLTP extract
    finishes. Left unset, it degrades to one connection (fine for the
    tiny lookup tables).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    return reader.load()


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV scan with declared schema (never inferSchema at scale — schema
    inference is an extra full pass over 100 TB). ``mode`` PERMISSIVE
    nulls malformed columns; DROPMALFORMED / FAILFAST for stricter loads.
    """
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .csv(path)
    )


def read_json(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSON-lines scan with declared schema (same no-inference rule)."""
    return spark.read.schema(schema).option("mode", mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark-native columnar alternative to Parquet, with the
    same pruning/pushdown behavior (vectorized reader, predicate pushdown
    via ORC stripe statistics). Useful when upstream systems (Hive, some
    CDC sinks) land ORC instead of Parquet."""
    return spark.read.orc(path)


def read_text(
    spark: SparkSession,
    path: str,
    *,
    whole_file: bool = False,
) -> DataFrame:
    """Raw-text scan: one row per line (column ``value``), or one row per
    file with ``whole_file=True`` — the ingestion shape for unstructured
    training corpora before parsing into the documents schema. Lines
    split on newline JVM-side; no Python in the read path."""
    return spark.read.text(path, wholetext=whole_file)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written across schema generations (columns added
    over time) as ONE DataFrame: ``mergeSchema`` unions the footers'
    schemas and files missing a column yield nulls for it — the
    schema-evolution read a lakehouse bronze layer needs when producers
    add fields. Merge cost is per-footer at planning time (at scale,
    prefer a declared read schema once the latest shape is known —
    Spark then projects/backfills without footer reconciliation).
    Column pruning and filter pushdown still apply per file."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)
