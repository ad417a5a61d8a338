"""Parquet schema memo (sources/readers.read_parquet): a repeated scan of
an unchanged file version plans with no footer-inference job, a changed
version is re-inferred, and no package code reads Parquet around it."""

from __future__ import annotations

import ast
import os
import re
import uuid

import pytest

from gravity_books_datalakehouse_spark.sources import readers
from gravity_books_datalakehouse_spark.sources.catalog import load_table
from gravity_books_datalakehouse_spark.sources.readers import read_parquet
from tests.conftest import SF_SMOKE

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "gravity_books_datalakehouse_spark",
)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc.setJobGroup("schema-memo-idle", "done")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_runs_no_job_and_matches_inference(spark):
    load_table(spark, SF_SMOKE, "lineitem")
    df, n_jobs = _jobs(spark, lambda: load_table(spark, SF_SMOKE, "lineitem"))
    assert n_jobs == 0
    inferred = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    assert df.schema == inferred.schema
    assert df.sameSemantics(inferred)
    assert df.count() == inferred.count()


def test_first_read_of_a_file_resolves_its_footer_without_a_job(spark, tmp_path):
    """A memo miss on a single file reads the footer on the driver: no
    job, and the same schema and plan as Spark's inference — for every
    testdata table."""
    import shutil

    for name in sorted(os.listdir(SF_SMOKE)):
        path = str(tmp_path / name)
        shutil.copyfile(os.path.join(SF_SMOKE, name), path)
        df, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert n_jobs == 0, name
        inferred = spark.read.parquet(path)
        assert df.schema == inferred.schema, name
        assert df.sameSemantics(inferred), name


def test_unreadable_footer_fails_like_spark(spark, tmp_path):
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    bad = str(tmp_path / "bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises((PySparkException, Py4JJavaError)):
        read_parquet(spark, bad).collect()
    assert (spark.sparkContext.applicationId, bad) not in readers._SCHEMA_CACHE


def test_rewritten_path_with_new_schema_is_seen(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "dir_table")
    spark.range(3).selectExpr("id", "'a' AS s").write.parquet(d)
    assert read_parquet(spark, d).columns == ["id", "s"]
    spark.range(3).selectExpr("id", "id * 2.0 AS x", "id AS y").write.mode(
        "overwrite"
    ).parquet(d)
    df = read_parquet(spark, d)
    assert df.columns == ["id", "x", "y"]
    assert df.agg({"x": "sum"}).collect()[0][0] == 6.0

    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert read_parquet(spark, f).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), f)
    df = read_parquet(spark, f)
    assert df.columns == ["b", "c"]
    assert df.collect()[0].c == 1.5


def test_partition_directory_read_keeps_partition_column(spark, tmp_path):
    d = str(tmp_path / "by_k")
    spark.range(20).selectExpr("id", "CAST(id % 3 AS INT) AS k").write.partitionBy(
        "k"
    ).parquet(d)
    read_parquet(spark, d)
    df, n_jobs = _jobs(spark, lambda: read_parquet(spark, d))
    assert n_jobs == 0
    assert df.columns == ["id", "k"]
    assert df.sameSemantics(spark.read.parquet(d))
    rows = sorted((r.id, r.k) for r in df.collect())
    assert rows == [(i, i % 3) for i in range(20)]
    assert df.filter("k = 1").count() == 7


def test_read_snapshot_after_write_runs_no_job(spark, tmp_path):
    from gravity_books_datalakehouse_spark.sources.snapshots import (
        _version_dir,
        merge_snapshot_occ,
        read_snapshot,
        write_snapshot,
    )

    table = str(tmp_path / "snap")
    base = spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
    v = write_snapshot(base, table)
    df, n_jobs = _jobs(spark, lambda: read_snapshot(spark, table))
    assert n_jobs == 0
    inferred = spark.read.parquet(_version_dir(table, v))
    assert df.schema == inferred.schema
    assert df.sameSemantics(inferred)

    updates = spark.createDataFrame([(9, "nine")], "id long, s string")
    v2 = merge_snapshot_occ(updates, table, ["id"])
    df, n_jobs = _jobs(spark, lambda: read_snapshot(spark, table))
    assert n_jobs == 0
    assert df.sameSemantics(spark.read.parquet(_version_dir(table, v2)))
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4, 9]


def test_memo_stays_bounded_under_concurrent_inserts(monkeypatch):
    """Threads (more than cores) remembering distinct paths at once never
    push the memo past its cap and never fail on a concurrent eviction."""
    import sys
    import threading
    import types

    from pyspark.sql.types import StructType

    monkeypatch.setattr(readers, "_SCHEMA_CACHE", {})
    monkeypatch.setattr(readers, "_SCHEMA_CACHE_MAX", 8)
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="stress-app")
    )
    errors, sizes = [], []

    def worker(w: int) -> None:
        try:
            for i in range(400):
                readers._remember(fake, f"/t/{w}/{i}", (), StructType())
                sizes.append(len(readers._SCHEMA_CACHE))
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prior)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 16 * 400
    assert max(sizes) <= 8


def test_one_file_compaction_is_a_no_op(spark, tmp_path):
    from gravity_books_datalakehouse_spark.sources.compaction import (
        compact_parquet,
    )

    d = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(d)
    (name,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
    before = os.stat(os.path.join(d, name))
    counts, n_jobs = _jobs(spark, lambda: compact_parquet(spark, d))
    assert counts == (1, 1)
    assert n_jobs == 0
    after = os.stat(os.path.join(d, name))
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)


def test_nanos_fallback_never_stores_its_legacy_schema(spark, tmp_path):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gravity_books_datalakehouse_spark.streaming.event_queries import (
        read_events_raw,
    )

    flag = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(flag, "false")
    d = tmp_path / "nanos_sf"
    d.mkdir()
    path = str(d / "events.parquet")
    ts = [datetime.datetime(2024, 5, 1, 12, 0, i) for i in range(3)]
    pq.write_table(
        pa.table({"event_id": [1, 2, 3], "ts": pa.array(ts, type=pa.timestamp("ns"))}),
        path,
        version="2.6",
        coerce_timestamps=None,
    )
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    try:
        raw = read_events_raw(spark, str(d))
        assert raw.schema["ts"].dataType.typeName() == "long"
        assert key not in readers._SCHEMA_CACHE
        read_events_raw(spark, str(d))  # the flag is on now: first attempt reads
    finally:
        spark.conf.set(flag, prior)
    # with the flag back off, no schema remembered under it is served
    with pytest.raises(Exception):
        read_parquet(spark, path)


#: Package code allowed to read Parquet without the schema memo, by
#: (file relative to the package, enclosing function) -> call count.
_RAW_READ_ALLOWED = {
    ("streaming/event_queries.py", "read_events_raw"): 1,  # nanos fallback
}


def _reader_chain(node: ast.AST) -> list[str]:
    """Attribute/call names from ``x.read...`` up to ``node``, or []."""
    names = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
            continue
        names.append(node.attr)
        node = node.value
    return names[::-1]


def _raw_parquet_reads(tree: ast.AST):
    """(enclosing function, call) for every ``.read[.option(...)...].parquet(``
    call that does not set ``mergeSchema``."""
    parents = {}
    for parent in ast.walk(tree):
        for child in ast.iter_child_nodes(parent):
            parents[child] = parent
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        chain = _reader_chain(node.func.value)
        if "read" not in chain:
            continue
        if "mergeSchema" in ast.unparse(node.func.value):
            continue
        fn, up = "<module>", node
        while up in parents:
            up = parents[up]
            if isinstance(up, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = up.name
                break
        yield fn, node


def test_no_raw_parquet_reads_outside_allow_list():
    found: dict[tuple[str, str], int] = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), PKG).replace(os.sep, "/")
            if rel == "sources/readers.py":
                continue  # the memo itself
            with open(os.path.join(root, f)) as fh:
                tree = ast.parse(fh.read())
            for fn, _node in _raw_parquet_reads(tree):
                found[(rel, fn)] = found.get((rel, fn), 0) + 1
    extra = {
        k: n for k, n in found.items() if n > _RAW_READ_ALLOWED.get(k, 0)
    }
    assert not extra, (
        f"raw spark.read.parquet outside the allow-list {extra}: read through "
        "sources.readers.read_parquet so the schema memo applies"
    )
    assert found == _RAW_READ_ALLOWED  # the allow-list has no stale entry


def test_lint_catches_raw_reads():
    src = (
        "def f(spark, p):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('x', '1').parquet(p)\n"
        "    c = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "    d = df.write.parquet(p)\n"
        "    e = spark.readStream.schema(s).parquet(p)\n"
    )
    assert [fn for fn, _ in _raw_parquet_reads(ast.parse(src))] == ["f", "f"]


def test_clear_session_caches_empties_every_memo():
    """Every module-level ``_*_CACHE`` in the package, found by name, is
    empty after clear_session_caches — so a new memo cannot be missed."""
    import importlib

    from gravity_books_datalakehouse_spark.plans._cache import (
        clear_session_caches,
    )

    pattern = re.compile(r"^(_[A-Z0-9_]*_CACHE)\s*[:=]", re.M)
    registries = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                names = pattern.findall(fh.read())
            if not names:
                continue
            rel = os.path.relpath(path, os.path.dirname(PKG))
            module = importlib.import_module(rel[:-3].replace(os.sep, "."))
            for name in names:
                registries[f"{module.__name__}.{name}"] = getattr(module, name)
    assert "gravity_books_datalakehouse_spark.sources.readers._SCHEMA_CACHE" in registries
    assert len(registries) >= 20
    for registry in registries.values():
        registry[("clear-test-app", "clear-test")] = ()
    clear_session_caches()
    assert [name for name, reg in registries.items() if reg] == []
