"""SparkSession factory with scale-ready defaults.

The reference runs single-process pandas (etl_script_dwh/etl_dwh.py:42) with
no execution engine of its own; here the session *is* the engine, so the
defaults matter:

- AQE on (runtime re-plan: shuffle coalescing, skew-join splitting, dynamic
  broadcast demotion) — the single biggest lever at 100 TB.
- ``spark.sql.shuffle.partitions`` sized for the local harness (32 cores);
  on a real cluster AQE coalescing makes the initial number mostly a ceiling.
- Session timezone pinned to UTC so date extraction (year/month/day) agrees
  with the DuckDB oracle, which operates on naive timestamps.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "gravity-books-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``). When a session already exists (e.g. the driver harness
    created one), ``getOrCreate`` reuses it and the configs below act as
    soft defaults only.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the final shuffle of a persisted plan too (off
        # by default): without it the star's 300-row dims are cached at
        # shuffle.partitions tasks each and every query over them pays
        # that task count. Explicit repartition(n, col) caches (the
        # fact's part_sk layout) are never coalesced, so their
        # partitioning still satisfies downstream aggregates.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Broadcast sizing, split by estimate quality (round-7 fix: the
        # old flat 64 MB static threshold let Catalyst PLAN a broadcast
        # of a ~7.5M-row orders side from a parquet-size ESTIMATE, and
        # the built hash relation then OOMed the driver at the bench's
        # sf~5 replica probe — notEnoughMemoryToBuildAndBroadcastTable).
        # Static threshold stays conservative (24 MB, estimate-based —
        # hash relations expand 5-10x over on-disk size); the AQE
        # threshold is the aggressive one (64 MB) because it re-decides
        # join strategy from EXACT runtime shuffle sizes, which is
        # exactly the demotion/promotion split you want on a cluster:
        # plan safe, upgrade at runtime when the build side is proven
        # small. Explicit F.broadcast() hints on true dims bypass both.
        .config("spark.sql.autoBroadcastJoinThreshold", str(24 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # local-mode driver == the single executor; Spark's 1g default
        # heap forces hash-aggregate sort-fallback spills (measured:
        # ~55 MB spilled inside the minhash signature groupBys at sf0.1).
        # 4g eliminates the spill; measured sweet spot — 16g reproducibly
        # SLOWED scan-heavy queries 2-3x (GC behavior at large heaps), so
        # bigger is not better here. Only takes effect at JVM launch;
        # existing sessions are unaffected.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
