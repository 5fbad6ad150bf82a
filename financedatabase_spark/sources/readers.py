"""Parquet scan layer.

The reference's scans are HTTP CSV fetches parsed with pandas
(reference: dbase/DataAPI/ThetaData/utils.py:599-691 `_fetch_data`,
v2.py:876-880) plus `pd.read_sql` over MySQL
(dbase/database/SQLHelpers.py:408-414). In this engine the scan is a
declarative `spark.read.parquet` — Catalyst pushes predicates and prunes
columns into the file scan, and the file splits themselves are the unit of
parallelism (the reference hand-rolls that with 300-day range chunking,
utils.py:583-596, and a per-date thread pool, v3/utils.py:444-503; on Spark
both collapse into ordinary partitioned reads).

At 100 TB the same call reads a date/symbol-partitioned table and partition
pruning replaces the reference's chunker. Nothing here is driver-side: no
collect, no pandas materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financedatabase_spark.session import ensure_source_confs

#: Driver-supplied synthetic tables (TESTDATA.md).
TABLES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table: lazy parquet read, pushdown-capable.

    `events.ts` is TIMESTAMP(NANOS) on disk, which the Spark parquet reader
    rejects; with `spark.sql.legacy.parquet.nanosAsLong` it arrives as
    nanos-since-epoch and is converted to a microsecond timestamp here
    (truncation — the same thing DuckDB's micro-precision TIMESTAMP does,
    so oracle comparisons agree).

    `session.get_spark` sets that conf when it builds the session; on a
    session built elsewhere the first scan of each table sets it, where
    missing, through `session.ensure_source_confs`, so the read works
    under any caller-provided SparkSession.

    The inferred schema is memoized per (live session, path, mtime):
    schema inference opens the file footer JVM-side on every
    `read.parquet` call (~90 ms of the driver's per-query plan-build
    cost, measured at sf0.1), while `read.schema(...).parquet` skips it.
    The mtime in the key makes a rewrite of the same path (tests that
    regenerate fixtures mid-session) fall back to fresh inference; each
    call still returns a NEW DataFrame, so self-joins keep distinct
    attribute ids.
    """
    cache = spark.__dict__.setdefault("_fdspark_scan_memo", {})
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = (path, None)
    hit = cache.get(key)
    if hit is not None:
        schema, ts_is_nanos = hit
        df = spark.read.schema(schema).parquet(path)
    else:
        ensure_source_confs(spark)
        df = spark.read.parquet(path)
        schema = df.schema
        ts_is_nanos = any(
            f.name == "ts" and f.dataType.simpleString() == "bigint"
            for f in schema.fields
        )
        cache[key] = (schema, ts_is_nanos)
    if ts_is_nanos:
        # TIMESTAMP(NANOS, isAdjustedToUTC=false) is a WITHOUT-TIME-ZONE
        # type, so surface it as timestamp_ntz — also the type every
        # other temporal column in the testdata arrives as (orders.
        # o_orderdate etc.), and the shape DuckDB's TIMESTAMP pairs
        # with cleanly. (The LTZ->NTZ cast is wall-clock-preserving
        # here: this container and the driver both run UTC.)
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` plans against them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
