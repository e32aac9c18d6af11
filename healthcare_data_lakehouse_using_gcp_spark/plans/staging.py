"""Staging models (dbt/models/staging/*.sql re-expressed as DataFrame
builders).

Each builder takes the processed-zone table and returns the cleaned,
flagged, derived view — semantics line-matched to the reference SQL:
  stg_patient_vitals    ← dbt/models/staging/stg_patient_vitals.sql
  stg_insurance_claims  ← dbt/models/staging/stg_insurance_claims.sql
  stg_ehr_records       ← authored here; the reference's fact model
                          refs it (fact_patient_encounters.sql:76)
                          but never shipped it (SURVEY.md §4) — we
                          mirror the staging pattern and the columns
                          the fact model consumes (:63-75).

Divergence note (SURVEY.md §7 risk 3): diagnosis_codes /
procedure_codes stay ArrayType (the reference flattens to comma
strings at the BQ boundary and re-splits,
stg_insurance_claims.sql:108-117); `F.size(col)` reproduces
ARRAY_LENGTH(SPLIT(...)) exactly for non-empty arrays.

These are all narrow transforms — no shuffle — so staging "views"
cost nothing extra at 100 TB; they fuse into downstream scans via
whole-stage codegen. Each model's filter, projection and derived
columns are built once per EngineConfig (functions/prebuilt.py) and
re-applied to every run's processed-zone frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import scalars as S
from ..functions.prebuilt import prebuilt


@prebuilt
def _vitals_exprs(cfg: EngineConfig) -> tuple[Column, tuple[Column, ...], dict[str, Column]]:
    t = cfg.thresholds
    hr, temp = F.col("heart_rate"), F.col("temperature")
    keep = F.col("patient_id").isNotNull() & F.col("timestamp").isNotNull()
    projection = (
        F.col("patient_id"),
        F.col("device_id"),
        F.col("location"),
        F.to_timestamp("timestamp").alias("measurement_timestamp"),
        F.to_timestamp("processed_at").alias("processed_timestamp"),
        S.valid_in_range(hr, t.min_heart_rate, t.max_heart_rate).alias("heart_rate"),
        S.valid_in_range(F.col("blood_pressure_systolic"), t.min_systolic, t.max_systolic)
        .alias("blood_pressure_systolic"),
        S.valid_in_range(F.col("blood_pressure_diastolic"), t.min_diastolic, t.max_diastolic)
        .alias("blood_pressure_diastolic"),
        S.valid_in_range(temp, t.min_temperature, t.max_temperature).alias("temperature"),
        S.valid_in_range(F.col("oxygen_saturation"), t.min_spo2, t.max_spo2)
        .alias("oxygen_saturation"),
        S.valid_in_range(F.col("respiratory_rate"), t.min_resp_rate, t.max_resp_rate)
        .alias("respiratory_rate"),
        F.col("heart_rate_category"),
        F.col("hour_of_day"),
        F.col("day_of_week"),
        F.col("data_quality_score"),
        F.col("pipeline_version"),
        # NOT BETWEEN is false for NULL in SQL → anomaly flags are
        # False when the measurement is missing (:70-80)
        F.coalesce(~hr.between(t.min_heart_rate, t.max_heart_rate), F.lit(False)).alias(
            "heart_rate_anomaly"
        ),
        F.coalesce(~temp.between(t.min_temperature, t.max_temperature), F.lit(False)).alias(
            "temperature_anomaly"
        ),
        F.coalesce(F.col("oxygen_saturation") < t.low_spo2_alert, F.lit(False)).alias(
            "low_oxygen_alert"
        ),
        F.coalesce(hr > t.elevated_hr_threshold, F.lit(False)).alias(
            "elevated_heart_rate_alert"
        ),
        F.coalesce(hr < t.low_hr_threshold, F.lit(False)).alias("low_heart_rate_alert"),
        F.coalesce(temp > t.fever_threshold, F.lit(False)).alias("fever_alert"),
    )
    # NB: the anomaly/alert flags above read the RAW measurement (the
    # reference computes them in the same SELECT as the validate-to-
    # NULL projection, i.e. against pre-validation values).
    derived = {
        "pulse_pressure": S.pulse_pressure(
            F.col("blood_pressure_systolic"), F.col("blood_pressure_diastolic")
        ),
        "rate_pressure_product": S.rate_pressure_product(
            F.col("heart_rate"), F.col("blood_pressure_systolic")
        ),
        "shift_category": S.shift_category(F.col("hour_of_day")),
        "day_category": S.day_category(F.col("day_of_week")),
        "quality_category": S.quality_category(F.col("data_quality_score")),
    }
    return keep, projection, derived


def stg_patient_vitals(vitals: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """stg_patient_vitals.sql:12-147."""
    keep, projection, derived = _vitals_exprs(cfg)
    return vitals.filter(keep).select(*projection).withColumns(derived)


@prebuilt
def _claims_exprs(cfg: EngineConfig) -> tuple[Column, tuple[Column, ...], dict[str, Column]]:
    t = cfg.thresholds
    amt, days = F.col("total_amount"), F.col("processing_days")
    keep = (
        F.col("claim_id").isNotNull()
        & F.col("patient_id").isNotNull()
        & F.col("service_date").isNotNull()
    )
    projection = (
        F.col("claim_id"),
        F.col("patient_id"),
        F.col("provider_id"),
        F.to_date("service_date").alias("service_date"),
        F.to_date("submission_date").alias("submission_date"),
        F.to_timestamp("processed_at").alias("processed_timestamp"),
        S.valid_in_range(amt, t.min_claim_amount, t.max_claim_amount).alias("total_amount"),
        F.col("insurance_type"),
        F.col("claim_status"),
        F.col("amount_category"),
        F.col("diagnosis_codes"),
        F.col("procedure_codes"),
        F.col("processing_days"),
        F.col("data_quality_score"),
        F.col("pipeline_version"),
        F.coalesce(~amt.between(t.min_claim_amount, t.max_claim_amount), F.lit(False)).alias(
            "amount_anomaly"
        ),
        F.coalesce(days < 0, F.lit(False)).alias("negative_processing_days"),
        F.coalesce(days > t.excessive_processing_days, F.lit(False)).alias(
            "excessive_processing_days"
        ),
        F.coalesce(amt > t.high_claim_threshold, F.lit(False)).alias("high_value_claim"),
        (F.col("claim_status") == "Denied").alias("denied_claim"),
        (F.col("claim_status") == "Paid").alias("paid_claim"),
        F.col("claim_status").isin("Submitted", "Under Review").alias("pending_claim"),
    )
    derived = {
        "daily_claim_value": S.daily_claim_value(
            F.col("total_amount"), F.col("processing_days")
        ),
        # ARRAY_LENGTH(SPLIT(x, ',')) ≡ size() on first-class arrays
        "diagnosis_count": F.when(
            F.col("diagnosis_codes").isNotNull(), F.size("diagnosis_codes")
        ).otherwise(F.lit(0)),
        "procedure_count": F.when(
            F.col("procedure_codes").isNotNull(), F.size("procedure_codes")
        ).otherwise(F.lit(0)),
        "processing_efficiency": S.processing_efficiency(F.col("processing_days")),
        "value_category": S.value_category(F.col("total_amount")),
        "insurance_category": S.insurance_category(F.col("insurance_type")),
        "lifecycle_stage": S.claim_lifecycle_stage(F.col("claim_status")),
        "quality_category": S.quality_category(F.col("data_quality_score")),
    }
    return keep, projection, derived


def stg_insurance_claims(claims: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """stg_insurance_claims.sql:12-162."""
    keep, projection, derived = _claims_exprs(cfg)
    return claims.filter(keep).select(*projection).withColumns(derived)


@prebuilt
def _ehr_exprs() -> tuple[Column, tuple[Column, ...], Column]:
    keep = (
        F.col("record_id").isNotNull()
        & F.col("patient_id").isNotNull()
        & F.col("visit_date").isNotNull()
    )
    projection = (
        F.col("record_id"),
        F.col("patient_id"),
        F.to_date("visit_date").alias("visit_date"),
        F.col("provider_id"),
        F.col("diagnosis"),
        F.col("treatment"),
        F.col("medications"),
        F.col("lab_results"),
        F.col("notes"),
        F.to_timestamp("processed_at").alias("processed_timestamp"),
        F.coalesce(F.col("medication_count"), F.size("medications")).alias("medication_count"),
        F.coalesce(F.col("lab_test_count"), F.size(F.map_keys("lab_results"))).alias(
            "lab_test_count"
        ),
        F.col("data_quality_score"),
        F.col("pipeline_version"),
    )
    return keep, projection, S.quality_category(F.col("data_quality_score"))


def stg_ehr_records(ehr: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Authored staging model for EHR (the reference never shipped it;
    pattern mirrors the other two staging models, columns per the
    fact model's consumption at fact_patient_encounters.sql:63-75)."""
    keep, projection, quality = _ehr_exprs()
    return ehr.filter(keep).select(*projection).withColumn("quality_category", quality)
