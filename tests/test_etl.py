"""ETL operator tests (SURVEY.md §2.1-2.2, §2.9) — crafted good/bad
rows per FIXTURES.md edge-row guidance."""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import time

import pytest

from healthcare_data_lakehouse_using_gcp_spark.config import EngineConfig
from healthcare_data_lakehouse_using_gcp_spark.operators import etl
from healthcare_data_lakehouse_using_gcp_spark.sources.generator import HealthcareDataGenerator


def _raw_df(spark, messages):
    return spark.createDataFrame([(m,) for m in messages], "value string")


GOOD_VITALS = {
    "data_type": "patient_vitals",
    "patient_id": "P000001",
    "timestamp": "2024-06-01T10:30:00",
    "heart_rate": 72,
    "blood_pressure_systolic": 120,
    "blood_pressure_diastolic": 80,
    "temperature": 36.8,
    "oxygen_saturation": 98,
    "respiratory_rate": 16,
    "device_id": "DEV0001",
    "location": "ICU",
}

GOOD_CLAIM = {
    "data_type": "insurance_claim",
    "claim_id": "CLM000001",
    "patient_id": "P000001",
    "provider_id": "DR0001",
    "service_date": "2024-05-20",
    "diagnosis_codes": ["I10", "E11.9"],
    "procedure_codes": ["99213"],
    "total_amount": 450.0,
    "insurance_type": "Medicare",
    "claim_status": "Paid",
    "submission_date": "2024-05-25",
}

GOOD_EHR = {
    "data_type": "ehr_record",
    "record_id": "EHR000001",
    "patient_id": "P000002",
    "visit_date": "2024-05-28",
    "provider_id": "DR0002",
    "diagnosis": "stable condition",
    "treatment": "monitoring",
    "medications": ["Aspirin", "Metformin"],
    "lab_results": {
        "Glucose": {"value": 85.0, "unit": "mg/dL", "normal_range": "70.0-100.0"}
    },
    "notes": "follow up recommended",
}


def test_parse_and_demux(spark, cfg):
    msgs = [json.dumps(GOOD_VITALS), json.dumps(GOOD_CLAIM), json.dumps(GOOD_EHR)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 1
    assert routed["ehr"].count() == 1
    assert routed["unknown"].count() == 0


def test_malformed_json_dropped_silently(spark, cfg):
    # parse errors are dropped by the quality filter, NOT routed to
    # unknown (healthcare_etl_pipeline.py:113-115, SURVEY.md §3.1.5)
    msgs = [json.dumps(GOOD_VITALS), '{"data_type": "patient_vitals", broken']
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["unknown"].count() == 0


def test_unknown_type_routed(spark, cfg):
    msgs = [json.dumps({"data_type": "mystery_type", "patient_id": "X"})]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["unknown"].count() == 1


def test_anomalies_filtered(spark, cfg):
    bad_hr = dict(GOOD_VITALS, heart_rate=300)  # >200 → anomaly (P2)
    bad_temp = dict(GOOD_VITALS, temperature=45.0)
    bad_amount = dict(GOOD_CLAIM, total_amount=-5.0)
    msgs = [json.dumps(m) for m in (GOOD_VITALS, bad_hr, bad_temp, GOOD_CLAIM, bad_amount)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 1


def test_missing_required_filtered(spark, cfg):
    no_pid = {k: v for k, v in GOOD_VITALS.items() if k != "patient_id"}
    no_claim_id = {k: v for k, v in GOOD_CLAIM.items() if k != "claim_id"}
    msgs = [json.dumps(m) for m in (GOOD_VITALS, no_pid, no_claim_id)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 0


def test_missing_fourth_required_field_filtered(spark, cfg):
    # the reference requires 4 fields per type
    # (healthcare_etl_pipeline.py:79/93/104): vitals also need
    # temperature, claims service_date, ehr diagnosis
    no_temp = {k: v for k, v in GOOD_VITALS.items() if k != "temperature"}
    no_svc = {k: v for k, v in GOOD_CLAIM.items() if k != "service_date"}
    no_diag = {k: v for k, v in GOOD_EHR.items() if k != "diagnosis"}
    msgs = [json.dumps(m) for m in (GOOD_VITALS, no_temp, no_svc, no_diag, GOOD_EHR)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 0
    assert routed["ehr"].count() == 1


def test_missing_data_type_routed_unknown(spark, cfg):
    # well-formed JSON lacking data_type is NOT corrupt: the reference
    # defaults it via element.get('data_type', 'unknown')
    # (healthcare_etl_pipeline.py:58) and DataPartitioner sends it to
    # the unknown output (:222-223)
    no_dtype = {k: v for k, v in GOOD_VITALS.items() if k != "data_type"}
    msgs = [json.dumps(no_dtype), json.dumps(GOOD_VITALS)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["unknown"].count() == 1
    assert routed["vitals"].count() == 1


def test_vitals_enrichment(spark, cfg):
    low = dict(GOOD_VITALS, heart_rate=50)
    high = dict(GOOD_VITALS, heart_rate=120)
    msgs = [json.dumps(m) for m in (GOOD_VITALS, low, high)]
    rows = {
        r["heart_rate"]: r.asDict()
        for r in etl.build_etl(_raw_df(spark, msgs), cfg)["vitals"].collect()
    }
    assert rows[72]["heart_rate_category"] == "normal"
    assert rows[50]["heart_rate_category"] == "low"
    assert rows[120]["heart_rate_category"] == "elevated"
    assert rows[72]["hour_of_day"] == 10
    assert rows[72]["day_of_week"] == "Saturday"  # 2024-06-01
    assert rows[72]["data_quality_score"] == pytest.approx(1.0)


def test_claims_enrichment(spark, cfg):
    row = etl.build_etl(_raw_df(spark, [json.dumps(GOOD_CLAIM)]), cfg)["claims"].first()
    assert row["processing_days"] == 5
    assert row["amount_category"] == "medium"


def test_ehr_enrichment(spark, cfg):
    row = etl.build_etl(_raw_df(spark, [json.dumps(GOOD_EHR)]), cfg)["ehr"].first()
    assert row["medication_count"] == 2
    assert row["lab_test_count"] == 1


def test_generator_mix_end_to_end(spark, cfg):
    gen = HealthcareDataGenerator(seed=7)
    msgs = gen.generate_messages(200)
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    counts = {k: routed[k].count() for k in routed}
    assert counts["vitals"] > counts["claims"] > 0
    assert counts["ehr"] > 0
    assert counts["unknown"] > 0
    # total routed ≤ total minus malformed
    assert sum(counts.values()) <= 200


def test_second_build_etl_reuses_expressions(spark, cfg, py4j_calls):
    """The transform's Columns are built once per config: a later
    build_etl on a fresh batch pays only its DataFrame operations'
    py4j round trips (~150), not the ~3,500 of rebuilding every
    expression through the Column API."""
    msgs = [json.dumps(GOOD_VITALS), json.dumps(GOOD_CLAIM), json.dumps(GOOD_EHR)]
    etl.build_etl(_raw_df(spark, msgs), cfg)
    raw = _raw_df(spark, msgs)
    before = py4j_calls.n
    routed = etl.build_etl(raw, cfg)
    assert py4j_calls.n - before <= 300
    assert {name: df.count() for name, df in routed.items()} == {
        "vitals": 1, "claims": 1, "ehr": 1, "unknown": 0,
    }


def test_prebuilt_expressions_are_per_config(spark, cfg):
    """Two configs in one session, interleaved so both hit their
    cached expressions, keep their own frozen "now" and thresholds."""
    strict = dataclasses.replace(
        cfg,
        as_of=cfg.as_of + dt.timedelta(days=1),
        thresholds=dataclasses.replace(cfg.thresholds, max_heart_rate=150),
    )
    msgs = [json.dumps(GOOD_VITALS), json.dumps(dict(GOOD_VITALS, heart_rate=170))]
    for c, kept in ((cfg, 2), (strict, 1), (cfg, 2), (strict, 1)):
        rows = etl.build_etl(_raw_df(spark, msgs), c)["vitals"].collect()
        assert len(rows) == kept
        assert {r["processed_at"] for r in rows} == {c.as_of}


def test_prebuilt_expressions_keep_a_live_clock(spark):
    """Without as_of, "now" stays current_timestamp(): reusing the
    built expressions must not freeze the first run's instant."""
    live = EngineConfig()
    msgs = [json.dumps(GOOD_VITALS)]
    first = etl.build_etl(_raw_df(spark, msgs), live)["vitals"].first()["processed_at"]
    time.sleep(1.1)
    second = etl.build_etl(_raw_df(spark, msgs), live)["vitals"].first()["processed_at"]
    assert second > first
