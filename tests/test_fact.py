"""fact_patient_encounters tests (J1-J3, W1, A2-A6) — literal
reference semantics (degenerate grouping) with hand-computed
expectations."""

from __future__ import annotations

import pytest

from healthcare_data_lakehouse_using_gcp_spark.plans import staging
from healthcare_data_lakehouse_using_gcp_spark.plans.fact import fact_patient_encounters

PROCESSED_AT = "2024-06-01T10:31:00"


def _stg_frames(spark, cfg):
    vitals_schema = (
        "patient_id string, timestamp string, heart_rate int,"
        "blood_pressure_systolic int, blood_pressure_diastolic int,"
        "temperature double, oxygen_saturation int, respiratory_rate int,"
        "device_id string, location string, processed_at string,"
        "pipeline_version string, heart_rate_category string, hour_of_day int,"
        "day_of_week string, data_quality_score double"
    )
    vitals = spark.createDataFrame(
        [
            ("PA", "2024-05-30T10:00:00", 72, 120, 80, 36.8, 98, 16, "D1", "ICU",
             PROCESSED_AT, "1.0.0", "normal", 10, "Thursday", 1.0),
            ("PB", "2024-05-30T11:00:00", 120, 140, 90, 38.5, 93, 22, "D2", "ER",
             PROCESSED_AT, "1.0.0", "elevated", 11, "Thursday", 1.0),
        ],
        vitals_schema,
    )
    claims_schema = (
        "claim_id string, patient_id string, provider_id string,"
        "service_date string, diagnosis_codes array<string>,"
        "procedure_codes array<string>, total_amount double,"
        "insurance_type string, claim_status string, submission_date string,"
        "processed_at string, pipeline_version string, processing_days int,"
        "amount_category string, data_quality_score double"
    )
    claims = spark.createDataFrame(
        [
            # 2 days from PA vitals → rank 1
            ("C1", "PA", "DR1", "2024-05-28", ["I10"], ["99213"], 500.0,
             "Medicare", "Paid", "2024-05-30", PROCESSED_AT, "1.0.0", 2, "medium", 1.0),
            # 5 days → rank 2
            ("C2", "PA", "DR1", "2024-05-25", ["I10", "E11.9"], ["99213"], 1500.0,
             "Private", "Denied", "2024-06-01", PROCESSED_AT, "1.0.0", 7, "high", 1.0),
            # outside ±7d band AND outside 30d lookback → never joins
            ("C3", "PA", "DR1", "2024-04-01", ["I10"], ["99213"], 100.0,
             "Private", "Paid", "2024-04-05", PROCESSED_AT, "1.0.0", 4, "medium", 1.0),
        ],
        claims_schema,
    )
    ehr_schema = (
        "record_id string, patient_id string, visit_date string, provider_id string,"
        "diagnosis string, treatment string, medications array<string>,"
        "lab_results map<string,struct<value:double,unit:string,normal_range:string>>,"
        "notes string, processed_at string, pipeline_version string,"
        "medication_count int, lab_test_count int, data_quality_score double"
    )
    ehr = spark.createDataFrame(
        [
            # 1 day from PA vitals → joins
            ("E1", "PA", "2024-05-29", "DR2", "dx", "tx", ["Aspirin", "Metformin"],
             {"CBC": (5.0, "K/uL", "4.5-11.0")}, "n", PROCESSED_AT, "1.0.0",
             None, None, 1.0),
            # within lookback but 21 days from vitals → outside band
            ("E2", "PA", "2024-06-20", "DR2", "dx", "tx", ["Aspirin"],
             {}, "n", PROCESSED_AT, "1.0.0", None, None, 1.0),
        ],
        ehr_schema,
    )
    return (
        staging.stg_patient_vitals(vitals, cfg),
        staging.stg_insurance_claims(claims, cfg),
        staging.stg_ehr_records(ehr, cfg),
    )


def test_fact_literal_semantics(spark, cfg):
    v, c, e = _stg_frames(spark, cfg)
    fact = fact_patient_encounters(v, c, e, cfg)
    rows = fact.collect()
    pa = sorted(
        [r for r in rows if r["patient_id"] == "PA"],
        key=lambda r: (r["primary_claim_id"] is None, r["primary_claim_id"] or ""),
    )
    pb = [r for r in rows if r["patient_id"] == "PB"]

    # PA: 2 claims × 1 ehr in band → 2 joined rows → 2 groups (degenerate grouping)
    assert len(pa) == 2
    rank1, rank2 = pa[0], pa[1]
    assert rank1["primary_claim_id"] == "C1"
    assert rank1["primary_ehr_record_id"] == "E1"
    assert rank1["primary_claim_amount"] == 500.0
    assert rank1["primary_medication_count"] == 2
    assert rank1["encounter_type"] == "comprehensive"
    assert rank1["total_claims"] == 1 and rank1["total_ehr_records"] == 1
    # complexity: 1*0.3 + 1*0.2 + 1*0.2 + 1*0.2 + 2*0.1 = 1.1
    assert rank1["encounter_complexity_score"] == pytest.approx(1.1)
    assert rank1["risk_level"] == "low_risk"

    # second group: rank-2 claim row → primary_* all NULL but counts still 1
    assert rank2["primary_claim_id"] is None
    assert rank2["primary_ehr_record_id"] is None
    assert rank2["total_claims"] == 1
    assert rank2["encounter_type"] == "comprehensive"
    # C2: 2 diagnoses, denied → complexity 0.3+0.2+0.4+0.2+0.2=1.3
    assert rank2["encounter_complexity_score"] == pytest.approx(1.3)
    assert rank2["denied_claims_count"] == 1

    # PB: vitals only; alerts → high risk
    assert len(pb) == 1
    assert pb[0]["encounter_type"] == "vitals_only"
    assert pb[0]["total_claims"] == 0
    assert pb[0]["primary_claim_id"] is None
    assert pb[0]["risk_level"] == "high_risk"
    assert pb[0]["total_claim_value"] is None
    assert pb[0]["encounter_complexity_score"] == pytest.approx(0.0)


def test_lookback_excludes_old_vitals(spark, cfg):
    v, c, e = _stg_frames(spark, cfg)
    # as_of is 2024-06-01; vitals at 2024-05-30 are inside the 30-day
    # lookback. C3 (2024-04-01) is outside and must never appear.
    fact = fact_patient_encounters(v, c, e, cfg)
    claim_ids = {r["primary_claim_id"] for r in fact.collect()}
    assert "C3" not in claim_ids


def test_fact_optimized_equivalence(spark, cfg):
    """The flagged plan-rewrite variant: rank-1 selections equal the
    literal plan's on tie-free data; aggregates at vitals grain with
    no cross-product inflation; no Window operator in the plan."""
    import contextlib
    import dataclasses
    import io

    v, c, e = _stg_frames(spark, cfg)
    lit = fact_patient_encounters(v, c, e, cfg)
    opt = fact_patient_encounters(
        v, c, e, dataclasses.replace(cfg, fact_optimized=True)
    )

    assert opt.count() == 2  # one row per vitals measurement
    o = {r["patient_id"]: r for r in opt.collect()}
    lit_primary = {
        r["patient_id"]: r
        for r in lit.collect()
        if r["primary_claim_id"] is not None or r["primary_ehr_record_id"] is not None
    }
    pa_l, pa_o = lit_primary["PA"], o["PA"]
    for col in (
        "primary_claim_id", "primary_service_date", "primary_claim_amount",
        "primary_insurance_type", "primary_claim_status", "primary_processing_days",
        "primary_ehr_record_id", "primary_visit_date", "primary_diagnosis",
        "primary_treatment", "primary_medication_count", "primary_lab_test_count",
        "risk_level",
    ):
        assert pa_o[col] == pa_l[col], col

    # sane-grain aggregates: PA has 2 claims in band, counted once
    assert pa_o["total_claims"] == 2
    assert pa_o["total_claim_value"] == pytest.approx(2000.0)
    assert pa_o["encounter_type"] == "comprehensive"
    # complexity over in-band entities: 2*0.3 + 1*0.2 + 3*0.2 + 2*0.2 + 2*0.1 = 2.0
    assert pa_o["encounter_complexity_score"] == pytest.approx(2.0)

    pb = o["PB"]
    assert pb["total_claims"] == 0 and pb["encounter_type"] == "vitals_only"
    assert pb["risk_level"] == "high_risk"
    assert pb["total_claim_value"] is None
    assert pb["primary_claim_id"] is None

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        opt.explain("formatted")
    assert "Window" not in buf.getvalue()  # hash-aggs replaced both sorts


def test_fact_optimized_same_result_under_every_band_dispatch(
    spark, cfg, monkeypatch
):
    """VERDICT r7 item 5: the optimized fact routes its two inner band
    joins through band_join_auto, which picks plain or bucketed from
    the measured shape. Whichever it picks — auto's own choice, or
    either strategy forced — the fact must be identical; inner-mode
    bucketing has no left-uniqueness requirement, so this holds on
    any data shape."""
    import dataclasses

    from healthcare_data_lakehouse_using_gcp_spark.operators import joins

    v, c, e = _stg_frames(spark, cfg)
    opt_cfg = dataclasses.replace(cfg, fact_optimized=True)

    def fact_rows():
        df = fact_patient_encounters(v, c, e, opt_cfg)
        return sorted(map(tuple, df.drop("created_at", "updated_at").collect()))

    auto = fact_rows()
    assert auto
    for join in (joins.band_join, joins.band_join_bucketed):
        calls = []

        def forced(*a, _join=join, **k):
            calls.append(_join.__name__)
            return _join(*a, **k), _join.__name__

        monkeypatch.setattr(joins, "band_join_auto", forced)
        assert fact_rows() == auto, join.__name__
        assert len(calls) == 2  # both band joins took the forced strategy


def test_band_join_auto_profiles_with_one_job(spark, cfg):
    """The auto dispatch's cost is ONE profiling job (a single-row
    two-level hash-agg) before the real plan runs — pinned so the
    dispatch never silently grows a second pass."""
    from healthcare_data_lakehouse_using_gcp_spark.operators.joins import band_join_auto

    v, c, _ = _stg_frames(spark, cfg)
    tracker = spark.sparkContext.statusTracker()
    # count inside a DEDICATED job group: counting the default group's
    # total job ids is unstable in a long-lived session (the status
    # store evicts past spark.ui.retainedJobs, so before/after deltas
    # go stale under the full suite)
    spark.sparkContext.setJobGroup("band_auto_profile_probe", "dispatch probe")
    try:
        _, strategy = band_join_auto(
            v.select("patient_id", "measurement_timestamp"),
            c,
            ["patient_id"],
            "measurement_timestamp",
            "service_date",
            7,
            how="inner",
        )
    finally:
        spark.sparkContext.setJobGroup("", "")
    n_jobs = len(tracker.getJobIdsForGroup("band_auto_profile_probe") or [])
    # construction (no action on the result yet) ran exactly ONE
    # profiling action — under AQE its two-exchange agg surfaces as
    # up to 4 Spark jobs (one per materialized stage), but never a
    # second pass over the data (which would add jobs proportional
    # to the plan, not the stage count)
    assert 1 <= n_jobs <= 4, n_jobs
    assert strategy in ("plain", "bucketed")


def test_fact_optimized_via_config_flag(spark, cfg):
    import dataclasses

    v, c, e = _stg_frames(spark, cfg)
    opt_cfg = dataclasses.replace(cfg, fact_optimized=True)
    out = fact_patient_encounters(v, c, e, opt_cfg)
    assert out.count() == 2  # vitals grain: config flag picked the rewrite
    # the flag is the only switch: off, the literal plan runs
    lit = fact_patient_encounters(v, c, e, cfg)
    assert lit.count() == 3  # literal degenerate grouping
