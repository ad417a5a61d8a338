"""Versioned table snapshots: time travel on plain Parquet.

Delta/Iceberg are unavailable in this environment (no jars, frozen pip —
ROADMAP.md item 1), but the capability their log provides — atomic
overwrite, read-your-history, schema evolution — is a directory-layout
protocol, and this module implements the minimal form of it:

    table_dir/
      v=1/part-*.parquet        immutable snapshot 1
      v=2/part-*.parquet        immutable snapshot 2
      _LATEST                   one-line pointer file: "2"

Writers never mutate an existing snapshot: a new version is written to
its own ``v=N`` directory FIRST, and the ``_LATEST`` pointer is flipped
LAST — a reader that raced the write either sees the old pointer (old
snapshot, fully intact) or the new one (new snapshot, fully written).
That pointer flip is the one-file commit point, the same trick as
Delta's ``_last_checkpoint``/log-entry append, minus concurrent-writer
arbitration (single-writer assumption — true for a scheduled pipeline).

Old snapshots stay readable until explicitly vacuumed, which gives:
- **time travel**: ``read_snapshot(spark, dir, version=3)``
- **safe reprocessing**: a bad load is undone by re-pointing _LATEST
- **schema evolution**: each snapshot carries its own Parquet schema;
  ``read_snapshot(..., merge_schema=True)`` unions schemas across the
  versions it reads (new columns appear as nulls in old data).

At 100 TB nothing changes: snapshots are directories of Parquet like
any other table; the pointer file is O(1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gravity_books_datalakehouse_spark.sources.readers import (
    read_parquet,
    record_parquet_schema,
)

_LATEST = "_LATEST"


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version}")


def latest_version(table_dir: str) -> int:
    """Current committed version (0 if the table does not exist yet)."""
    pointer = os.path.join(table_dir, _LATEST)
    if not os.path.exists(pointer):
        return 0
    with open(pointer) as fh:
        return int(fh.read().strip())


def list_versions(table_dir: str) -> list[int]:
    """All retained snapshot versions, ascending."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(table_dir)
        if name.startswith("v=")
    )


_TXN = "_txn.json"


def last_txn_version(table_dir: str, app_id: str) -> int:
    """Highest transaction version committed for ``app_id`` across
    retained snapshots (-1 if none) — Delta's ``txnAppId/txnVersion``
    idempotence check, read from the per-snapshot ``_txn.json`` that is
    renamed into place atomically WITH its data (underscore-prefixed, so
    Parquet listing ignores it)."""
    import json

    best = -1
    for v in list_versions(table_dir):
        p = os.path.join(_version_dir(table_dir, v), _TXN)
        if os.path.exists(p):
            with open(p) as fh:
                meta = json.load(fh)
            if meta.get("app_id") == app_id:
                best = max(best, int(meta["txn_version"]))
    return best


def write_snapshot(
    df: DataFrame, table_dir: str, *, txn: tuple[str, int] | None = None
) -> int:
    """Commit ``df`` as the next version and return its number.

    The snapshot is staged under a non-version name, renamed into
    ``v=N`` only when fully written, and the pointer flips last — so a
    crash at any point leaves no partial ``v=N`` directory and never
    wedges future writes. The next version is derived from
    max(retained versions, pointer): an orphan ``v=N`` from a crashed
    writer (pointer never flipped) is skipped over instead of being
    retried forever with ``errorifexists``. The written frame's schema is
    recorded for the new ``v=N`` directory, so the next read of this
    version (e.g. the next merge) plans without an inference job."""
    import shutil

    versions = list_versions(table_dir)
    version = max(versions + [latest_version(table_dir)]) + 1
    staging = os.path.join(table_dir, f".staging-v{version}")
    if os.path.isdir(staging):
        shutil.rmtree(staging)  # leftover from a prior crash
    df.write.mode("errorifexists").parquet(staging)
    if txn is not None:
        # lands atomically with the data via the directory rename below,
        # so a committed version and its txn marker are inseparable
        import json

        app_id, txn_version = txn
        with open(os.path.join(staging, _TXN), "w") as fh:
            json.dump({"app_id": app_id, "txn_version": int(txn_version)}, fh)
    os.rename(staging, _version_dir(table_dir, version))
    record_parquet_schema(df.sparkSession, _version_dir(table_dir, version), df.schema)
    tmp = os.path.join(table_dir, _LATEST + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(table_dir, _LATEST))  # atomic on POSIX
    return version


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    *,
    merge_schema: bool = False,
) -> DataFrame:
    """Read one snapshot: the committed latest by default, or any retained
    ``version`` (time travel). ``merge_schema=True`` makes the scan union
    column sets when reading a snapshot written under an evolved schema
    together with unchanged old files (Parquet ``mergeSchema``); plain
    reads go through the schema memo of ``readers.read_parquet``."""
    v = latest_version(table_dir) if version is None else version
    path = _version_dir(table_dir, v)
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return read_parquet(spark, path)


def merge_snapshot(
    updates: DataFrame,
    table_dir: str,
    keys: list[str],
    *,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE-shaped upsert committed as a new snapshot — the log-free
    substitute for Delta's ``MERGE INTO`` (the reference's append/
    truncate lifecycle, etl_script_dwh/etl_dwh.py:21-28,108, gives every
    load full-refresh semantics; this gives keyed incremental semantics).

    One pass, no driver-side loop: rows of the current snapshot whose
    key matches an update are replaced (update-matched), update rows
    with no current match are appended (insert-unmatched) — i.e.
    ``updates UNION ALL (current ANTI JOIN updates ON keys)``.

    The result is committed via :func:`write_snapshot`, so the merge is
    atomic (pointer flip), time-travelable, and rerunnable: merging the
    same updates twice produces a new version with identical content
    (idempotent by value). Reads target the old version's directory
    while the new one is being staged — no read-while-overwrite hazard.

    Scale: one shuffle of each side on ``keys`` (or a broadcast anti
    join when updates are small — Catalyst decides); at 100 TB partition
    the snapshot on a key prefix so the anti join prunes partitions.
    """
    spark = updates.sparkSession
    if latest_version(table_dir) == 0:
        return write_snapshot(updates, table_dir, txn=txn)
    current = read_snapshot(spark, table_dir)
    kept = current.join(updates.select(*keys), keys, "left_anti")
    merged = updates.unionByName(kept.select(*updates.columns))
    return write_snapshot(merged, table_dir, txn=txn)


def delete_where(
    spark,
    table_dir: str,
    condition: str,
    *,
    txn: tuple[str, int] | None = None,
) -> tuple[int, int]:
    """Targeted DELETE committed as a new snapshot (GDPR/right-to-be-
    forgotten shape): rows matching ``condition`` (a SQL boolean
    expression over the snapshot's columns) are dropped; everything
    else is rewritten into version N+1 and the pointer flips atomically.
    Returns ``(new_version, n_deleted)``.

    Prior versions still contain the deleted rows until :func:`vacuum`
    physically removes them — exactly Delta/Iceberg semantics, where a
    DELETE is logical until old files are expired; a compliance
    pipeline runs delete_where then vacuum(keep_last=1).

    Scale: one filter-scan + rewrite of the live snapshot, no shuffle;
    at 100 TB partition the snapshot so the predicate prunes whole
    partitions and only affected files rewrite (Delta's deletion
    vectors avoid even that — noted as the jar-blocked upgrade path,
    ROADMAP.md item 1).
    """
    current = read_snapshot(spark, table_dir)
    # SQL DELETE semantics: only rows where the predicate is TRUE are
    # deleted — a NULL predicate keeps the row. A bare NOT(condition)
    # would drop NULL-predicate rows under three-valued logic (silently
    # destroying rows with NULLs in the predicate columns).
    matched = f"coalesce(({condition}), false)"
    keep = current.filter(f"NOT {matched}")
    n_deleted = current.filter(matched).count()
    version = write_snapshot(keep, table_dir, txn=txn)
    return version, n_deleted


# --------------------------------------------------------------------------
# Optimistic concurrency (round 11) — the concurrent-writer arbitration
# the single-writer protocol above deliberately omitted. Delta arbitrates
# with an atomic log-entry append; plain POSIX gives an equivalent
# primitive in atomic ``mkdir``: the writer stages its snapshot OUTSIDE
# the critical section (the expensive Spark write claims no version),
# then under a short mkdir-mutex validates that the table is still at
# the version it read, renames the staging directory into ``v=N``, and
# flips the pointer — an O(1) critical section, so writers overlap on
# all the real work and serialize only on the commit decision. A writer
# that lost the race gets ``SnapshotConflict`` and recomputes its merge
# against the new snapshot (the Delta "concurrent modification → retry"
# loop), which is what makes two concurrent MERGEs serialize correctly
# instead of last-writer-wins losing the first writer's rows.

_LOCK = "_COMMIT_LOCK"
_LOCK_STALE_SEC = 300.0


class SnapshotConflict(RuntimeError):
    """The table advanced past the version this writer read — recompute
    against the new snapshot and retry."""


def _acquire_commit_lock(table_dir: str, timeout: float = 30.0) -> str:
    import time
    import uuid

    lock = os.path.join(table_dir, _LOCK)
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lock)
            return lock
        except FileExistsError:
            # break a stale lock from a crashed writer (age-based, the
            # standard lease heuristic; a live writer's critical section
            # is O(1) so anything minutes old is dead). The age compares
            # two EPOCH clocks — time.time() vs the lock's mtime;
            # time.monotonic() (seconds since boot) would make the
            # difference a huge negative and the break would never fire.
            # Break via rename-then-rmdir: the atomic rename is the
            # arbitration, so two waiters that both judge the lock stale
            # race on the rename, exactly one wins, and neither can
            # delete a FRESH lock another writer just created at the
            # original path (the plain-rmdir TOCTOU).
            try:
                if time.time() - os.path.getmtime(lock) > _LOCK_STALE_SEC:
                    doomed = lock + f".stale-{uuid.uuid4().hex}"
                    os.rename(lock, doomed)
                    os.rmdir(doomed)
                    continue
            except OSError:
                pass
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy: {lock}")
            time.sleep(0.02)


def merge_snapshot_occ(
    updates: DataFrame,
    table_dir: str,
    keys: list[str],
    *,
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE with optimistic concurrency: compute the merge against the
    version observed at read time, stage it with no version claimed,
    and commit only if the table is STILL at that version — otherwise
    recompute against the new snapshot and retry (up to
    ``max_retries``). Two concurrent merges over disjoint keys both
    land (the second rebases on the first); a genuine write-write race
    on the same keys resolves to a serial order instead of silently
    dropping the loser's rows.

    Scale: retries re-run one anti-join pass each — the same cost
    profile as Delta's conflict-retry loop; the critical section never
    holds during a Spark job."""
    import json
    import shutil
    import uuid

    spark = updates.sparkSession
    last_err: Exception | None = None
    for _ in range(max_retries):
        base = latest_version(table_dir)
        if base == 0:
            merged = updates
        else:
            current = read_snapshot(spark, table_dir, version=base)
            kept = current.join(updates.select(*keys), keys, "left_anti")
            merged = updates.unionByName(kept.select(*updates.columns))
        staging = os.path.join(table_dir, f".staging-occ-{uuid.uuid4().hex}")
        merged.write.mode("errorifexists").parquet(staging)
        if txn is not None:
            app_id, txn_version = txn
            with open(os.path.join(staging, _TXN), "w") as fh:
                json.dump(
                    {"app_id": app_id, "txn_version": int(txn_version)}, fh
                )
        try:
            lock = _acquire_commit_lock(table_dir)
        except Exception:
            # lock never acquired — the staged snapshot would otherwise
            # leak on disk (cleanup below only runs lock-held)
            shutil.rmtree(staging, ignore_errors=True)
            raise
        try:
            now = latest_version(table_dir)
            if now != base:
                last_err = SnapshotConflict(
                    f"read v{base}, table now at v{now}"
                )
                continue  # recompute against the new snapshot
            version = max(list_versions(table_dir) + [base]) + 1
            os.rename(staging, _version_dir(table_dir, version))
            staging = None
            record_parquet_schema(
                spark, _version_dir(table_dir, version), merged.schema
            )
            tmp = os.path.join(table_dir, _LATEST + ".tmp")
            with open(tmp, "w") as fh:
                fh.write(str(version))
            os.replace(tmp, os.path.join(table_dir, _LATEST))
            return version
        finally:
            os.rmdir(lock)
            if staging is not None and os.path.isdir(staging):
                shutil.rmtree(staging)  # conflict: discard the stale stage
    raise last_err if last_err is not None else SnapshotConflict(
        "merge_snapshot_occ exhausted retries"
    )


def rollback(table_dir: str, version: int) -> None:
    """Re-point _LATEST at an older retained snapshot — undoing a bad
    load without touching any data files."""
    if version not in list_versions(table_dir):
        raise ValueError(f"version {version} not retained in {table_dir}")
    tmp = os.path.join(table_dir, _LATEST + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(table_dir, _LATEST))


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (never the current
    pointer target). Returns the versions removed."""
    import shutil

    current = latest_version(table_dir)
    versions = list_versions(table_dir)
    keep = set(versions[-keep_last:]) | {current}
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(_version_dir(table_dir, v))
            removed.append(v)
    return removed
