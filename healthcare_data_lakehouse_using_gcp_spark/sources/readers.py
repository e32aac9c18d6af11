"""Sources (SURVEY.md §2.1).

The reference's I/O surface → Spark:
  Pub/Sub topic read (S1)  → readStream file/kafka source of JSON lines
  BigQuery append sink (S3)→ SnapshotTable commits per processed-zone
                             entity (lakehouse.run_etl,
                             streaming/pipeline.make_etl_sink)
  Text error sink (S4)     → df.write.json under errors/
  Zoned lakehouse (§1.1)   → warehouse root with raw/processed/curated

Scale note: `maxFilesPerTrigger` bounds micro-batch size for the
streaming source.
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
