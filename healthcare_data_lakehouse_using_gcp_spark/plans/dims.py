"""Dimension models — promised by the reference's architecture docs
but never implemented there (docs/architecture/technical_architecture.md:92-94
lists dim_patients / dim_providers under the curated zone; no model
files exist — SURVEY.md §4). Authored here as beyond-reference
completeness, following the staging models' conventions.

Scale notes: both dims are single hash-aggregations over their
staging inputs (map-side partial aggregation; shuffle = one exchange
on the dim key). At 100 TB these are the cheap queries; the point is
they materialize small (≤ patient/provider cardinality) and then
broadcast into any downstream join. Their aggregate expressions take
no configuration and are built once per py4j gateway
(functions/prebuilt.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.prebuilt import prebuilt


@prebuilt
def _patient_exprs() -> tuple:
    key = F.col("patient_id")
    vitals = (
        F.count(F.lit(1)).alias("vitals_count"),
        F.min("measurement_timestamp").alias("first_measurement_at"),
        F.max("measurement_timestamp").alias("last_measurement_at"),
        F.avg("heart_rate").alias("avg_heart_rate"),
        F.avg("temperature").alias("avg_temperature"),
        F.sum(F.col("low_oxygen_alert").cast("int")).alias("low_oxygen_alerts"),
        F.sum(F.col("fever_alert").cast("int")).alias("fever_alerts"),
        F.countDistinct("device_id").alias("distinct_devices"),
        F.countDistinct("location").alias("distinct_locations"),
    )
    claims = (
        F.count(F.lit(1)).alias("claims_count"),
        F.sum("total_amount").alias("total_claim_amount"),
        F.sum(F.col("denied_claim").cast("int")).alias("denied_claims"),
        F.max("service_date").alias("last_service_date"),
    )
    ehr = (
        F.count(F.lit(1)).alias("ehr_count"),
        F.sum("medication_count").alias("total_medications"),
        F.max("visit_date").alias("last_visit_date"),
    )
    counts = {
        "vitals_count": F.coalesce("vitals_count", F.lit(0)),
        "claims_count": F.coalesce("claims_count", F.lit(0)),
        "ehr_count": F.coalesce("ehr_count", F.lit(0)),
    }
    return key, vitals, claims, ehr, counts


def dim_patients(
    stg_vitals: DataFrame,
    stg_claims: DataFrame,
    stg_ehr: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """One row per patient: monitoring profile + financial/clinical
    touch counts from all three entity streams."""
    key, vitals, claims, ehr, counts = _patient_exprs()
    v = stg_vitals.groupBy(key).agg(*vitals)
    c = stg_claims.groupBy(key).agg(*claims)
    e = stg_ehr.groupBy(key).agg(*ehr)
    return (
        v.join(c, "patient_id", "full_outer")
        .join(e, "patient_id", "full_outer")
        .withColumns(counts)
    )


@prebuilt
def _provider_exprs() -> tuple:
    key = F.col("provider_id")
    claims = (
        F.count(F.lit(1)).alias("claims_count"),
        F.countDistinct("patient_id").alias("distinct_claim_patients"),
        F.sum("total_amount").alias("total_claim_amount"),
        F.avg("processing_days").alias("avg_processing_days"),
        F.sum(F.col("denied_claim").cast("int")).alias("denied_claims"),
    )
    ehr = (
        F.count(F.lit(1)).alias("ehr_count"),
        F.countDistinct("patient_id").alias("distinct_ehr_patients"),
        F.avg("lab_test_count").alias("avg_lab_tests"),
    )
    counts = {
        "claims_count": F.coalesce("claims_count", F.lit(0)),
        "ehr_count": F.coalesce("ehr_count", F.lit(0)),
    }
    return key, claims, ehr, counts


def dim_providers(
    stg_claims: DataFrame,
    stg_ehr: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """One row per provider: claim volume/value + EHR activity."""
    key, claims, ehr, counts = _provider_exprs()
    c = stg_claims.groupBy(key).agg(*claims)
    e = stg_ehr.groupBy(key).agg(*ehr)
    return c.join(e, "provider_id", "full_outer").withColumns(counts)
