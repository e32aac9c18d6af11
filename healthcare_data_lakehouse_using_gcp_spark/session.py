"""SparkSession factory.

Defaults chosen for the target deployment (many-executor cluster over
~100 TB of parquet) while remaining correct on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace any
  hand-scheduling the reference delegated to Dataflow/BigQuery
  (SURVEY.md §4).
- UTC session timezone: deterministic timestamp semantics across
  driver, executors, and the DuckDB oracle.
- Arrow enabled: vectorized transfer for the pandas-UDF operators
  (dedup/similarity) — the only Python-side compute in the engine.
- Codegen class cache sized to the engine's working set, so code
  that re-runs the whole DAG or a query basket in one process (the
  perfbench workloads, the test suite, bench.py) compiles each plan
  shape once instead of once per run. The batch CLI runs the DAG
  once per JVM and gains nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "healthcare-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``shuffle_partitions`` is a ceiling: AQE coalesces small shuffles
    down at runtime, so on a real cluster this should be set high
    (2-3x total cores) and AQE trusted to shrink it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores TIMESTAMP(NANOS) parquet, which Spark
        # refuses by default; read as long and convert (sources/readers)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Keep the AUTO-broadcast threshold at Spark's stock 10 MB.
        # r6 measured the earlier 64 MB setting silently broadcasting a
        # pruned 6M-row fact side (estimate just under 64 MB): the
        # single-threaded hash-relation build + broadcast lost 2.8x to
        # the 32-core sort-merge join (j1 at sf1: 3.7 s -> 1.3 s), and
        # at 1000 executors a 64 MB relation is 64 GB of network. Build
        # cost scales with ROWS, not bytes — a high byte threshold is
        # the wrong dial. Every deliberate small-dim broadcast in this
        # engine uses an explicit F.broadcast() hint, which bypasses
        # this threshold entirely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Generated-class cache (static conf, Spark default 100). One
        # warm DAG iteration (run_etl, sink, run_models, run_reports)
        # compiles 167 classes and one pass of the perfbench query
        # basket 143, so at 100 a process that repeats them evicted
        # every class before its next use and Janino recompiled the
        # whole run each time. At 1,000 a repeated run compiles only
        # AQE's renumbered stages. The `stream --snapshot` sink loop
        # gains nothing: it compiles 18, then 8 per micro-batch, at
        # either size.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
