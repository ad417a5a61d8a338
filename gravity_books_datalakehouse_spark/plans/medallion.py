"""Medallion pipeline: bronze → silver → gold, materialized as Parquet.

Re-expresses the reference's lakehouse ETL (etl_script_dlh/etl_lakehouse.py):

- **prepare/reset** (:21-35): s3fs rm+mkdir per layer  → ``mode("overwrite")``.
- **bronze** (:37-45): 1:1 raw copies of every source table.
- **silver** (:47-74): cleaned/conformed tables (the reference builds
  cleaned_customer/cleaned_book/cleaned_order; here the equivalents over
  the testdata model, plus cleaned_documents for the text suite).
- **gold** (:76-136): the star schema (plans/star.py semantics) persisted,
  with the fact **partitioned by month** — the scale lever the reference
  lacks (it writes one unpartitioned object per table): month partitions
  give partition pruning for date-ranged queries and bound file sizes at
  100 TB (a day/hour granularity swap is one argument).

Every layer is a real persistence boundary (write then re-read), exactly
like the reference's S3 round-trips — which makes each layer restartable
and lets downstream plans start from columnar statistics rather than the
raw OLTP extract. Within a layer, everything is one lazy Catalyst plan.

Write amplification note: bronze is a straight copy (needed for replay /
schema-on-write isolation); silver/gold rewrite only conformed columns.
Small dims are coalesced to one file each; the fact inherits shuffle
parallelism so files stay executor-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.plans.star import build_star
from gravity_books_datalakehouse_spark.sources.catalog import (
    TESTDATA_TABLES,
    load_table,
)
from gravity_books_datalakehouse_spark.sources.readers import read_parquet
from gravity_books_datalakehouse_spark.sources.writers import overwrite_parquet

BRONZE_TABLES = TESTDATA_TABLES

SMALL_DIMS = {"region", "nation", "supplier", "part", "customer",
              "dim_customer", "dim_part", "dim_priority", "dim_date"}


def _path(lake_dir: str, layer: str, table: str) -> str:
    return os.path.join(lake_dir, layer, table)


def run_bronze(spark: SparkSession, sf_dir: str, lake_dir: str) -> dict[str, str]:
    """Raw 1:1 ingest of all source tables (etl_lakehouse.py:37-45).

    Bronze is a faithful raw copy: the events ``ts`` lands as whatever
    the source physically stores (BIGINT nanos via the scoped legacy
    flag, or plain timestamp[us]); silver normalizes adaptively.
    """
    from gravity_books_datalakehouse_spark.streaming.event_queries import (
        read_events_raw,
    )

    out = {}
    for t in BRONZE_TABLES:
        if t == "events":
            df = read_events_raw(spark, sf_dir)
        else:
            df = load_table(spark, sf_dir, t)
        p = _path(lake_dir, "bronze", t)
        overwrite_parquet(df, p, coalesce=1 if t in SMALL_DIMS else None)
        out[t] = p
    return out


def run_silver(spark: SparkSession, lake_dir: str) -> dict[str, str]:
    """Cleaned/conformed tables from bronze (etl_lakehouse.py:47-74)."""
    b = {t: read_parquet(spark, _path(lake_dir, "bronze", t)) for t in BRONZE_TABLES}
    out = {}

    # cleaned_customer — the J1..J4 enrichment chain (etl_lakehouse.py:54-58)
    cleaned_customer = (
        b["customer"]
        .join(F.broadcast(b["nation"]), b["customer"].c_nationkey == b["nation"].n_nationkey)
        .join(F.broadcast(b["region"]), F.col("n_regionkey") == b["region"].r_regionkey)
        .select(
            "c_custkey", "c_name", "c_mktsegment", "c_acctbal",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )

    # cleaned_order — typed dates + priority conformed (etl_lakehouse.py:70-72)
    cleaned_order = b["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_orderpriority",
    )

    # cleaned_lineitem — measures with derived net/gross amounts.
    # net_price on the integer-cents path (operator_queries._cents):
    # the 1e-4-unit long product is < 2^53, so .cast("double")/1e4 is
    # the single correct rounding of the exact rational — bit-identical
    # to the decimal-multiply-then-cast form it replaces, at primitive
    # per-row cost (this is the ETL write path: at warehouse scale the
    # per-row BigDecimal multiply is the silver layer's dominant CPU).
    from gravity_books_datalakehouse_spark.plans.operator_queries import _cents

    net_units = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    cleaned_lineitem = b["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        (net_units.cast("double") / F.lit(10000.0)).alias("net_price"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )

    # cleaned_documents — normalized text + content fingerprint
    cleaned_documents = b["documents"].select(
        "doc_id", "lang", "source", "n_chars",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("text_norm"),
    ).withColumn("content_fp", F.md5("text_norm"))

    # cleaned_events — ts normalized to µs TIMESTAMP (dtype-adaptive:
    # bronze may hold epoch-nanos BIGINT or a native timestamp)
    from gravity_books_datalakehouse_spark.streaming.event_queries import (
        normalize_event_ts,
    )

    cleaned_events = normalize_event_ts(b["events"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "props",
    )

    for name, df in {
        "cleaned_customer": cleaned_customer,
        "cleaned_order": cleaned_order,
        "cleaned_lineitem": cleaned_lineitem,
        "cleaned_documents": cleaned_documents,
        "cleaned_events": cleaned_events,
    }.items():
        p = _path(lake_dir, "silver", name)
        overwrite_parquet(df, p, coalesce=1 if name == "cleaned_customer" else None)
        out[name] = p
    return out


def run_gold(spark: SparkSession, sf_dir: str, lake_dir: str) -> dict[str, str]:
    """Star schema persisted (etl_lakehouse.py:76-136); fact partitioned
    by month for pruning at scale."""
    star = build_star(spark, sf_dir)
    out = {}
    for name in ("dim_customer", "dim_part", "dim_priority", "dim_date"):
        p = _path(lake_dir, "gold", name)
        overwrite_parquet(star[name], p, coalesce=1)
        out[name] = p
    fact = star["fact_sales"].withColumn(
        "month_sk", (F.col("date_sk") / 100).cast("int")
    )
    p = _path(lake_dir, "gold", "fact_sales")
    overwrite_parquet(fact, p, partition_by=["month_sk"])
    out["fact_sales"] = p
    return out


def run_medallion(spark: SparkSession, sf_dir: str, lake_dir: str) -> dict[str, str]:
    """Full pipeline (etl_lakehouse.py:138-147): bronze → silver → gold."""
    paths = {}
    paths.update({f"bronze/{k}": v for k, v in run_bronze(spark, sf_dir, lake_dir).items()})
    paths.update({f"silver/{k}": v for k, v in run_silver(spark, lake_dir).items()})
    paths.update({f"gold/{k}": v for k, v in run_gold(spark, sf_dir, lake_dir).items()})
    return paths


def register_gold_views(spark: SparkSession, lake_dir: str) -> None:
    """S6 — gold tables as SQL views (test_queries.py:91-95 analog)."""
    for name in ("dim_customer", "dim_part", "dim_priority", "dim_date", "fact_sales"):
        read_parquet(spark, _path(lake_dir, "gold", name)).createOrReplaceTempView(name)


def append_fact_increment(
    spark: SparkSession, lake_dir: str, new_fact: DataFrame
) -> None:
    """Incremental gold maintenance: upsert new fact rows by month partition.

    The reference full-refreshes every run (etl_lakehouse.py:21-35
    truncates all layers). At 100 TB a daily load must touch only the
    partitions that changed: dynamic partition overwrite replaces exactly
    the month partitions present in ``new_fact`` and leaves the rest of
    the table untouched (no Delta/Iceberg dependency; with those formats
    this becomes MERGE INTO).

    ``new_fact`` must carry the fact schema incl. date_sk; month_sk is
    (re)derived here to guarantee partition consistency.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    incr = new_fact.withColumn("month_sk", (F.col("date_sk") / 100).cast("int"))
    (
        incr.write.mode("overwrite")
        .partitionBy("month_sk")
        .parquet(_path(lake_dir, "gold", "fact_sales"))
    )


# ---------------------------------------------------------------------------
# Late-arriving dimensions (Kimball "early-arriving facts"): a fact row
# can land before its dimension member exists. The gold load keeps the
# fact (SK = -1 inferred member) instead of dropping it, and a later
# reconcile pass re-resolves once the dim catches up. The reference
# silently inner-joins such facts away (etl_script_dlh/etl_lakehouse.py
# gold build); at 100 TB dropping late facts loses revenue rows every
# nightly load.
# ---------------------------------------------------------------------------

UNRESOLVED_SK = -1


def resolve_with_late_dims(
    fact: DataFrame,
    dim: DataFrame,
    natural_key: str,
    sk_col: str,
) -> DataFrame:
    """Left-join SK lookup that KEEPS unmatched facts with
    ``sk = UNRESOLVED_SK`` instead of dropping them (contrast the strict
    gold build, which dropna()s). Broadcast dim lookup, no extra
    shuffle vs the strict form."""
    lookup = dim.select(sk_col, natural_key)
    return (
        fact.join(F.broadcast(lookup), natural_key, "left")
        .withColumn(sk_col, F.coalesce(F.col(sk_col), F.lit(UNRESOLVED_SK)))
    )


def reconcile_late_dims(
    fact: DataFrame,
    dim: DataFrame,
    natural_key: str,
    sk_col: str,
) -> DataFrame:
    """Re-resolve previously-unresolved fact rows against the (now
    fuller) dimension: rows with ``sk = UNRESOLVED_SK`` — or a NULL sk,
    so inputs from a plain left-join loader aren't lost — re-probe the
    dim; resolved rows pass through untouched. Returns the full fact
    with the same schema. Cost is a broadcast probe of just the
    unresolved slice — the resolved majority is never re-joined."""
    pending_cond = F.col(sk_col).isNull() | (F.col(sk_col) == UNRESOLVED_SK)
    resolved = fact.filter(~pending_cond)
    pending = fact.filter(pending_cond).drop(sk_col)
    reprobed = resolve_with_late_dims(pending, dim, natural_key, sk_col)
    return resolved.unionByName(reprobed.select(*fact.columns))
