"""Table sources: parquet-backed scans of the test fixture tables.

Replaces the reference's ``SqlTableScanExec`` (reference:
src/sql/plan/table.rs:178-268) — a single-partition, no-pushdown KV scan
loop — with Spark's parquet source, which provides projection pruning,
predicate pushdown, and partition-parallel scans natively. This is a
strict superset of the reference scan (reference ignores
filters/limit at the scan: src/sql/plan/table.rs:178-187).

Scale note: at 100 TB each table is a parquet directory with many files;
``spark.sql.files.maxPartitionBytes`` splits them into ~128 MB scan
partitions. Nothing here collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import TPCH_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TPCH_TABLES:
        raise KeyError(f"unknown fixture table: {name!r}")
    # Engine semantics are UTC (matches the DuckDB oracle's naive-UTC
    # timestamps) regardless of the caller's session/machine timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Fixture generations have stored ts as TIMESTAMP(NANOS) or
        # TIMESTAMP(MICROS); normalize either to session-tz TimestampType
        # (micros precision, matching DuckDB's nanos→micros truncation).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # nanos read as long under nanosAsLong
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if ts_type != "timestamp":  # timestamp_ntz → ltz (identity in UTC)
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))
