"""Engine configuration: validation thresholds and lookback windows.

Mirrors the reference's dbt vars (dbt/dbt_project.yml:120-142 — the
authoritative second block; the file defines vars twice and YAML
last-wins, see SURVEY.md §1.3) plus the Beam pipeline's hardcoded
ranges (dataflow/pipelines/healthcare_etl_pipeline.py:84-100).

"now" is parameterized (``as_of``) because the reference leans on
CURRENT_TIMESTAMP / datetime.now() everywhere
(dbt/models/marts/fact_patient_encounters.sql:32,225-226;
healthcare_etl_pipeline.py:55) which is untestable; a frozen
``as_of`` makes every lookback predicate deterministic.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Thresholds:
    """Validation + categorization thresholds (dbt_project.yml:120-142)."""

    min_heart_rate: int = 40
    max_heart_rate: int = 200
    min_temperature: float = 35.0
    max_temperature: float = 42.0
    min_claim_amount: float = 0.01
    max_claim_amount: float = 100000.0
    elevated_hr_threshold: int = 100
    low_hr_threshold: int = 60
    fever_threshold: float = 38.0
    high_claim_threshold: float = 1000.0
    # staging-model literal ranges (stg_patient_vitals.sql:24-58)
    min_systolic: int = 70
    max_systolic: int = 250
    min_diastolic: int = 40
    max_diastolic: int = 150
    min_spo2: int = 70
    max_spo2: int = 100
    low_spo2_alert: int = 95
    min_resp_rate: int = 8
    max_resp_rate: int = 40
    # claims buckets (stg_insurance_claims.sql:60-64, 121-151)
    excessive_processing_days: int = 365
    # quality gate (healthcare_data_pipeline_dag.py:199)
    min_avg_quality_score: float = 0.8
    # freshness gate minutes (healthcare_data_pipeline_dag.py:326-328)
    max_staleness_minutes: int = 30


@dataclass(frozen=True)
class GatePolicy:
    """dbt-style test severity (dbt_project.yml:33-36, 89-94): a gate
    measures a failure metric (a count of failing rows, or minutes of
    staleness); ``warn_if`` / ``error_if`` are strict > thresholds on
    that metric, None disables the level. ``store_failures`` mirrors
    dbt's store_failures: keep the failing rows for inspection
    instead of only the count."""

    warn_if: float | None = 10.0  # dbt_project.yml:34,91
    error_if: float | None = 100.0  # dbt_project.yml:35,92
    store_failures: bool = True  # dbt_project.yml:33,90


@dataclass(frozen=True)
class EngineConfig:
    thresholds: Thresholds = field(default_factory=Thresholds)
    lookback_days: int = 30  # dbt var lookback_days (dbt_project.yml:141)
    band_days: int = 7  # ±7-day proximity band (fact_patient_encounters.sql:114,141)
    pipeline_version: str = "1.0.0"  # healthcare_etl_pipeline.py:56
    # frozen "now"; None => current_timestamp (production behavior)
    as_of: dt.datetime | None = None
    # opt-in plan rewrite: vitals-grain fact with struct-MIN as-of
    # aggregations instead of the literal window-sort plan
    # (plans/fact.fact_patient_encounters_optimized)
    fact_optimized: bool = False
    # engine-side dbt-severity gates over the DAG report checks:
    # low-quality-record count in the last hour, and staleness minutes
    # (warn at the DAG's 30-minute limit, error at 8x that)
    low_quality_gate: GatePolicy = field(default_factory=GatePolicy)
    staleness_gate: GatePolicy = field(
        default_factory=lambda: GatePolicy(warn_if=30.0, error_if=240.0)
    )


DEFAULT_CONFIG = EngineConfig()
