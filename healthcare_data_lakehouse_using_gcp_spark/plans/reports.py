"""Report / monitoring queries (A5/A7/A8/A9, O1) — the six SQL
queries embedded in the reference's Airflow DAG
(airflow/dags/healthcare_data_pipeline_dag.py:163-319), as DataFrame
builders + driver-side threshold checks.

Each builder takes the table it reports over plus the EngineConfig
(for the frozen "now"); the check_* helpers reproduce the DAG's
raise/warn behavior (:178-179, :199-200, :307-309, :326-328). The
reports' filters and aggregates are built once per EngineConfig
(functions/prebuilt.py) and applied to each run's tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.prebuilt import prebuilt
from ..functions.scalars import now_col, today_col


@prebuilt
def _report_exprs(cfg: EngineConfig) -> dict[str, Column | tuple[Column, ...]]:
    """Row filters, group keys and aggregates of the six reports."""
    now = now_col(cfg)
    low_quality = F.col("data_quality_score") < 0.7
    return {
        "last_hour": F.col("processed_at") >= now - F.expr("INTERVAL 1 HOUR"),
        "low_quality": low_quality,
        "freshness": (
            F.count(F.lit(1)).alias("recent_records"),
            F.max("processed_at").alias("latest_processing_time"),
        ),
        "quality": (
            F.count(F.lit(1)).alias("total_records"),
            F.count(F.when(low_quality, 1)).alias("low_quality_records"),
            F.avg("data_quality_score").alias("avg_quality_score"),
        ),
        "last_24h": F.col("measurement_timestamp") >= now - F.expr("INTERVAL 24 HOURS"),
        "measurement_date": F.to_date("measurement_timestamp").alias("date"),
        "monitoring": (
            F.count(F.lit(1)).alias("total_measurements"),
            F.count(F.when(F.col("elevated_heart_rate_alert"), 1)).alias(
                "elevated_heart_rate_count"
            ),
            F.count(F.when(F.col("low_oxygen_alert"), 1)).alias("low_oxygen_count"),
            F.count(F.when(F.col("fever_alert"), 1)).alias("fever_count"),
            F.avg("heart_rate").alias("avg_heart_rate"),
            F.avg("temperature").alias("avg_temperature"),
        ),
        "date_desc": F.desc("date"),
        "last_week_service": F.col("primary_service_date") >= F.date_sub(today_col(cfg), 7),
        "service_date": F.col("primary_service_date").alias("date"),
        "claims": (
            F.count(F.lit(1)).alias("total_claims"),
            F.sum("primary_claim_amount").alias("total_value"),
            F.count(F.when(F.col("primary_claim_status") == "Paid", 1)).alias("paid_claims"),
            F.count(F.when(F.col("primary_claim_status") == "Denied", 1)).alias(
                "denied_claims"
            ),
            F.avg("primary_processing_days").alias("avg_processing_days"),
        ),
        "last_hour_measured": F.col("measurement_timestamp") >= now - F.expr("INTERVAL 1 HOUR"),
        "health": (
            F.count(F.lit(1)).alias("total_encounters"),
            F.count(F.when(F.col("risk_level") == "high_risk", 1)).alias(
                "high_risk_encounters"
            ),
            F.count(F.when(F.col("encounter_type") == "comprehensive", 1)).alias(
                "comprehensive_encounters"
            ),
            F.avg("encounter_complexity_score").alias("avg_complexity"),
        ),
        "staleness": (
            F.max("measurement_timestamp").alias("latest_timestamp"),
            (
                (
                    F.unix_timestamp(now)
                    - F.unix_timestamp(F.max("measurement_timestamp"))
                )
                / 60
            )
            .cast("long")
            .alias("minutes_since_last_update"),
        ),
    }


def freshness_report(vitals: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """healthcare_data_pipeline_dag.py:163-172: records processed in
    the last hour + latest processing time."""
    x = _report_exprs(cfg)
    return vitals.filter(x["last_hour"]).agg(*x["freshness"])


def quality_report(vitals: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """:182-191: total / low-quality counts + avg score, last hour."""
    x = _report_exprs(cfg)
    return vitals.filter(x["last_hour"]).agg(*x["quality"])


def patient_monitoring_report(fact: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """:215-228: daily rollup of alerts over the last 24 h."""
    x = _report_exprs(cfg)
    return (
        fact.filter(x["last_24h"])
        .groupBy(x["measurement_date"])
        .agg(*x["monitoring"])
        .orderBy(x["date_desc"])
    )


def claims_processing_report(fact: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """:243-257: daily claims rollup over the last 7 days.

    Runs over the fact table's primary_* claim columns (the DAG
    queries service_date/total_amount/claim_status on the fact table,
    which after the rank-1 projection are the primary_* columns)."""
    x = _report_exprs(cfg)
    return (
        fact.filter(x["last_week_service"])
        .groupBy(x["service_date"])
        .agg(*x["claims"])
        .orderBy(x["date_desc"])
    )


def pipeline_health_report(fact: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """:283-293: hourly encounter totals / risk mix / complexity."""
    x = _report_exprs(cfg)
    return fact.filter(x["last_hour_measured"]).agg(*x["health"])


def staleness_report(fact: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """:312-319: MAX(ts) + minutes since last update."""
    return fact.agg(*_report_exprs(cfg)["staleness"])


# --- driver-side assertions (the DAG's raise/warn logic) -------------


class PipelineHealthError(ValueError):
    pass


def gate_status(value, policy) -> str:
    """dbt-severity evaluation (dbt_project.yml:33-36, 89-94): the
    failure metric against warn_if/error_if (> comparison, like dbt's
    'warn_if: >10'). Returns 'pass' | 'warn' | 'error'."""
    if value is None:
        return "pass"
    if policy.error_if is not None and value > policy.error_if:
        return "error"
    if policy.warn_if is not None and value > policy.warn_if:
        return "warn"
    return "pass"


def quality_failures(vitals: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The failing rows behind the quality gate (dbt store_failures):
    last-hour records scoring below 0.7."""
    x = _report_exprs(cfg)
    return vitals.filter(x["last_hour"] & x["low_quality"])


def check_freshness(vitals: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    row = freshness_report(vitals, cfg).first().asDict()
    if row["recent_records"] == 0:
        raise PipelineHealthError("No recent data found - pipeline may be failing")
    return row


def check_quality(vitals: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    """DAG parity (below_threshold on the 0.8 average,
    healthcare_data_pipeline_dag.py:199) + the engine-side dbt-severity
    gate on the low-quality-record COUNT (cfg.low_quality_gate).
    'error' raises like a dbt test at severity error; 'warn' is
    reported in the row. With store_failures the failing rows come
    back as a DataFrame under 'failures'."""
    row = quality_report(vitals, cfg).first().asDict()
    row["below_threshold"] = (
        row["avg_quality_score"] is not None
        and row["avg_quality_score"] < cfg.thresholds.min_avg_quality_score
    )
    policy = cfg.low_quality_gate
    row["gate_status"] = gate_status(row["low_quality_records"], policy)
    if policy.store_failures and row["gate_status"] != "pass":
        row["failures"] = quality_failures(vitals, cfg)
    if row["gate_status"] == "error":
        raise PipelineHealthError(
            f"quality gate error: {row['low_quality_records']} low-quality records "
            f"> error_if {policy.error_if}"
        )
    return row


def check_pipeline_health(fact: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    row = pipeline_health_report(fact, cfg).first().asDict()
    if row["total_encounters"] == 0:
        raise PipelineHealthError("Pipeline health check failed - no data processed")
    return row


def check_staleness(fact: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    """DAG parity (stale flag at max_staleness_minutes,
    healthcare_data_pipeline_dag.py:326-328) + the dbt-severity gate
    on the staleness minutes (cfg.staleness_gate)."""
    row = staleness_report(fact, cfg).first().asDict()
    row["stale"] = (
        row["minutes_since_last_update"] is not None
        and row["minutes_since_last_update"] > cfg.thresholds.max_staleness_minutes
    )
    policy = cfg.staleness_gate
    row["gate_status"] = gate_status(row["minutes_since_last_update"], policy)
    if row["gate_status"] == "error":
        raise PipelineHealthError(
            f"staleness gate error: {row['minutes_since_last_update']} minutes "
            f"> error_if {policy.error_if}"
        )
    return row


def expectations_gate(results: DataFrame, policy=None) -> dict:
    """Feed an operators/expectations.expect() result frame through
    the dbt-severity machinery: {check: 'pass'|'warn'|'error'} by
    evaluating each check's violation count against ``policy``
    (default: any violation is an error — dbt's severity: error).
    Collects |checks| rows only."""
    from ..config import GatePolicy

    pol = policy or GatePolicy(warn_if=None, error_if=0)
    return {
        r["check"]: gate_status(r["n_violations"], pol)
        for r in results.collect()
    }
