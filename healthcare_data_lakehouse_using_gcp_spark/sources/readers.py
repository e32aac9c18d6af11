"""Sources and sinks (SURVEY.md §2.1).

The reference's I/O surface → Spark:
  Pub/Sub topic read (S1)  → readStream file/kafka source of JSON lines
  BigQuery append sink (S3)→ parquet append (saveAsTable-compatible);
                             format pluggable ("bigquery" on GCP)
  Text error sink (S4)     → df.write.json under errors/
  Zoned lakehouse (§1.1)   → warehouse root with raw/processed/curated

Scale notes: writes partition by event date (the partitioning the
reference documents but never implements — SURVEY.md §4) so the
lookback scans (S5) partition-prune; `maxFilesPerTrigger` bounds
micro-batch size for the streaming source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table, normalizing nanosecond
    timestamps.

    events.parquet stores TIMESTAMP(NANOS); Spark reads it as long
    via spark.sql.legacy.parquet.nanosAsLong (set here at runtime so
    it also works under a driver-owned SparkSession that didn't use
    our session factory) and we convert with integer division
    (truncation toward zero — the same ns→µs semantics as DuckDB's
    ::TIMESTAMP cast, so the oracle agrees to the microsecond)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — conf may be locked; reads of µs tables still work
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # epoch-ns long → TIMESTAMP_NTZ via pure interval
            # arithmetic: timezone-free regardless of the session's
            # spark.sql.session.timeZone (timestamp_micros would give
            # an LTZ value that shifts under non-UTC sessions)
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestamp_ntz '1970-01-01 00:00:00' + "
                    "make_dt_interval(0, 0, 0, CAST(ts div 1000 AS DECIMAL(20,0)) / 1000000)"
                ),
            )
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's parquet tables (TESTDATA.md)."""
    out = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def read_json_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """S1: unbounded read of JSON messages (file-drop source stands in
    for Pub/Sub locally; swap format for kafka/pubsublite on GCP).
    Returns a one-string-column ('value') DataFrame, the same shape
    the ETL parse stage expects from kafka."""
    return (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )


def read_json_batch(spark: SparkSession, path: str) -> DataFrame:
    """Bounded variant of S1 (the --streaming flag off,
    healthcare_etl_pipeline.py:248-249): same 'value' column shape."""
    return spark.read.text(path)


def write_zone_table(
    df: DataFrame,
    warehouse: str,
    zone: str,
    table: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """S3: append write into a lakehouse zone (raw/processed/curated
    — terraform/main.tf:118-245's bucket/dataset split as parquet
    dirs). Declared-schema append matches WRITE_APPEND /
    CREATE_IF_NEEDED (healthcare_etl_pipeline.py:306-307).

    Optimization r16 (guide §6): REBALANCE by the partition columns
    before a partitioned write — without it every upstream task holds
    rows of every partition value and the layout degenerates to
    (tasks × values) sliver files per append (the save_ivf_index
    lesson). AQE clusters each value into whole advisory-sized files
    while still splitting a hot value across writers; same rows,
    same directories, fewer+larger files. The hot-value splitting
    comes from AQE's optimizeSkewsInRebalancePartitions — with a
    caller-supplied session that disables AQE, REBALANCE degrades to
    plain hash partitioning and a hot value serializes onto one
    writer (sessions from this repo's get_spark always enable AQE)."""
    if partition_cols:
        writer = df.hint("rebalance", *partition_cols).write.mode(mode)
        writer = writer.partitionBy(*partition_cols)
    else:
        writer = df.write.mode(mode)
    writer.parquet(os.path.join(warehouse, zone, table))

