"""fact_patient_encounters — the reference's most complex query
(dbt/models/marts/fact_patient_encounters.sql:1-241) as a DataFrame
plan.

Shape: 3 lookback-filtered CTE scans → LEFT band join vitals↔claims
(±7 days, J1) with ROW_NUMBER proximity rank (W1) → LEFT band join
↔ehr (J2) with a second proximity rank → rank-1 CASE projection (J3)
+ wide GROUP BY aggregation (A2-A6).

Literal-semantics notes (SURVEY.md §4, last defect bullet — we
reproduce, not fix):
- The GROUP BY includes claim_id/record_id/both proximity ranks
  (:229-238), so groups are one-per-joined-row and COUNT(DISTINCT
  claim_id) degenerates to 0/1. Kept byte-faithful for oracle parity.
- The second window partitions only by (patient_id, ts) (:134-137),
  so claim-duplicated rows share one partition and ehr ranks run over
  the cross product.
- The reference's rank ordering has ties (same |datediff|) and is
  therefore nondeterministic; we append deterministic tie-breakers
  (claim_id / record_id) — documented divergence that makes the
  output well-defined. Oracle SQL must use the same tie-breakers.

Scale notes: both joins shuffle on patient_id only (band predicate is
a post-join filter); both windows partition by (patient_id,
measurement_timestamp) — a strict refinement of the join key — so
Catalyst reuses the join exchange where possible and AQE handles
patient-level skew. The final groupBy keys are a superset of the
window partition keys, again avoiding a full re-shuffle.

The literal plan's lookback filters, band-join conditions, proximity
ranks, GROUP BY keys, aggregates and projection are built once per
EngineConfig (functions/prebuilt.py) and applied to each run's
staging frames; the opt-in optimized variant shares only the
lookback scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.prebuilt import prebuilt
from ..functions.scalars import now_col, today_col

VITALS_COLS = [
    "patient_id", "measurement_timestamp", "device_id", "location",
    "heart_rate", "blood_pressure_systolic", "blood_pressure_diastolic",
    "temperature", "oxygen_saturation", "respiratory_rate",
    "heart_rate_category", "pulse_pressure", "rate_pressure_product",
    "shift_category", "day_category", "quality_category",
    "low_oxygen_alert", "elevated_heart_rate_alert",
    "low_heart_rate_alert", "fever_alert",
]

GROUP_COLS = [
    # fact_patient_encounters.sql:229-238, literal order
    "patient_id", "measurement_timestamp", "device_id", "location",
    "heart_rate", "blood_pressure_systolic", "blood_pressure_diastolic",
    "temperature", "oxygen_saturation", "respiratory_rate", "heart_rate_category",
    "pulse_pressure", "rate_pressure_product", "shift_category", "day_category",
    "quality_category", "low_oxygen_alert", "elevated_heart_rate_alert",
    "low_heart_rate_alert", "fever_alert", "claim_proximity_rank", "ehr_proximity_rank",
    "claim_id", "service_date", "total_amount", "insurance_type", "claim_status",
    "processing_days", "record_id", "visit_date", "diagnosis", "treatment",
    "medication_count", "lab_test_count",
]


CLAIMS_COLS = [
    "patient_id", "claim_id", "service_date", "submission_date", "provider_id",
    "total_amount", "insurance_type", "insurance_category", "claim_status",
    "lifecycle_stage", "amount_category", "value_category", "processing_days",
    "processing_efficiency", "diagnosis_count", "procedure_count",
    "daily_claim_value", "denied_claim", "paid_claim", "pending_claim",
    "high_value_claim",
]

EHR_COLS = [
    "patient_id", "record_id", "visit_date", "provider_id", "diagnosis",
    "treatment", "medications", "lab_results", "medication_count",
    "lab_test_count", "notes",
]


@prebuilt
def _lookback_exprs(cfg: EngineConfig) -> tuple[tuple[tuple[Column, ...], Column], ...]:
    def cols(names: list[str]) -> tuple[Column, ...]:
        return tuple(F.col(c) for c in names)

    vitals = F.col("measurement_timestamp") >= (
        now_col(cfg) - F.expr(f"INTERVAL {cfg.lookback_days} DAYS")
    )
    claims = F.col("service_date") >= F.date_sub(today_col(cfg), cfg.lookback_days)
    ehr = F.col("visit_date") >= F.date_sub(today_col(cfg), cfg.lookback_days)
    return (cols(VITALS_COLS), vitals), (cols(CLAIMS_COLS), claims), (cols(EHR_COLS), ehr)


def _lookback_scans(
    stg_vitals: DataFrame,
    stg_claims: DataFrame,
    stg_ehr: DataFrame,
    cfg: EngineConfig,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CTE scans with lookback predicates (:31-78) — these reach the
    parquet scan as pushed filters / partition pruning."""
    return tuple(
        df.select(*cols).filter(keep)
        for df, (cols, keep) in zip((stg_vitals, stg_claims, stg_ehr), _lookback_exprs(cfg))
    )


@prebuilt
def _band_join_exprs(
    cfg: EngineConfig, left: str, right: str, date_col: str, tie_breaks: tuple[str, ...]
) -> tuple[Column, Column, Column, Column]:
    """The ⟕ band join of ``left``'s vitals rows to ``right``'s rows
    within band_days of ``right.date_col``: (join condition, right
    key to drop, signed day distance, proximity rank)."""
    ldate = F.to_date(F.col(f"{left}.measurement_timestamp"))
    dist = F.abs(F.datediff(ldate, F.col(f"{right}.{date_col}")))
    on = (F.col(f"{left}.patient_id") == F.col(f"{right}.patient_id")) & (
        dist <= cfg.band_days
    )
    rank = F.row_number().over(
        Window.partitionBy("patient_id", "measurement_timestamp").orderBy(
            F.abs(
                F.datediff(F.to_date("measurement_timestamp"), F.col(date_col))
            ).asc_nulls_last(),
            *[F.col(c).asc_nulls_last() for c in tie_breaks],  # deterministic tie-break
        )
    )
    return on, F.col(f"{right}.patient_id"), F.datediff(ldate, F.col(date_col)), rank


@prebuilt
def _encounter_exprs(cfg: EngineConfig) -> tuple[tuple[Column, ...], ...]:
    """GROUP BY keys, aggregates and the rank-1 CASE projection (:144-239)."""
    rank1_claim = F.col("claim_proximity_rank") == 1
    rank1_ehr = F.col("ehr_proximity_rank") == 1
    aggs = (
        F.countDistinct("claim_id").alias("total_claims"),
        F.countDistinct("record_id").alias("total_ehr_records"),
        F.sum("total_amount").alias("total_claim_value"),
        F.avg("processing_days").alias("avg_processing_days"),
        F.sum(F.when(F.col("denied_claim"), 1).otherwise(0)).alias("denied_claims_count"),
        F.sum(F.when(F.col("paid_claim"), 1).otherwise(0)).alias("paid_claims_count"),
        F.sum(F.when(F.col("pending_claim"), 1).otherwise(0)).alias("pending_claims_count"),
        F.sum(F.when(F.col("high_value_claim"), 1).otherwise(0)).alias(
            "high_value_claims_count"
        ),
        (
            F.coalesce(F.countDistinct("claim_id"), F.lit(0)) * 0.3
            + F.coalesce(F.countDistinct("record_id"), F.lit(0)) * 0.2
            + F.coalesce(F.sum("diagnosis_count"), F.lit(0)) * 0.2
            + F.coalesce(F.sum("procedure_count"), F.lit(0)) * 0.2
            + F.coalesce(F.sum("medication_count"), F.lit(0)) * 0.1
        ).alias("encounter_complexity_score"),
    )
    total_claims = F.col("total_claims")
    total_ehr = F.col("total_ehr_records")
    projection = (
        *[F.col(c) for c in VITALS_COLS],
        F.when(rank1_claim, F.col("claim_id")).alias("primary_claim_id"),
        F.when(rank1_claim, F.col("service_date")).alias("primary_service_date"),
        F.when(rank1_claim, F.col("total_amount")).alias("primary_claim_amount"),
        F.when(rank1_claim, F.col("insurance_type")).alias("primary_insurance_type"),
        F.when(rank1_claim, F.col("claim_status")).alias("primary_claim_status"),
        F.when(rank1_claim, F.col("processing_days")).alias("primary_processing_days"),
        F.when(rank1_ehr, F.col("record_id")).alias("primary_ehr_record_id"),
        F.when(rank1_ehr, F.col("visit_date")).alias("primary_visit_date"),
        F.when(rank1_ehr, F.col("diagnosis")).alias("primary_diagnosis"),
        F.when(rank1_ehr, F.col("treatment")).alias("primary_treatment"),
        F.when(rank1_ehr, F.col("medication_count")).alias("primary_medication_count"),
        F.when(rank1_ehr, F.col("lab_test_count")).alias("primary_lab_test_count"),
        *[
            F.col(c)
            for c in (
                "total_claims", "total_ehr_records", "total_claim_value",
                "avg_processing_days", "denied_claims_count", "paid_claims_count",
                "pending_claims_count", "high_value_claims_count",
                "encounter_complexity_score",
            )
        ],
        # risk indicators (:208-214)
        F.when(
            F.col("low_oxygen_alert")
            | F.col("elevated_heart_rate_alert")
            | F.col("low_heart_rate_alert")
            | F.col("fever_alert"),
            F.lit("high_risk"),
        )
        .when(
            (F.col("heart_rate_category") != "normal") | (F.col("temperature") > 37.5),
            F.lit("medium_risk"),
        )
        .otherwise(F.lit("low_risk"))
        .alias("risk_level"),
        # encounter type (:217-222) — lateral refs to the agg aliases
        F.when((total_claims > 0) & (total_ehr > 0), F.lit("comprehensive"))
        .when(total_claims > 0, F.lit("claims_only"))
        .when(total_ehr > 0, F.lit("ehr_only"))
        .otherwise(F.lit("vitals_only"))
        .alias("encounter_type"),
        now_col(cfg).alias("created_at"),
        now_col(cfg).alias("updated_at"),
    )
    return tuple(F.col(c) for c in GROUP_COLS), aggs, projection


def fact_patient_encounters(
    stg_vitals: DataFrame,
    stg_claims: DataFrame,
    stg_ehr: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    if cfg.fact_optimized:
        return fact_patient_encounters_optimized(stg_vitals, stg_claims, stg_ehr, cfg)
    vitals, claims, ehr = _lookback_scans(stg_vitals, stg_claims, stg_ehr, cfg)

    # --- vitals ⟕ claims band join + proximity rank (:81-115)
    on, right_key, days_from, rank = _band_join_exprs(
        cfg, "v", "c", "service_date", ("claim_id",)
    )
    vc = (
        vitals.alias("v")
        .join(claims.alias("c"), on, "left")
        .drop(right_key)
        .withColumnRenamed("provider_id", "claim_provider_id")
        .withColumn("days_from_service", days_from)
        .withColumn("claim_proximity_rank", rank)
    )

    # --- (vitals⋈claims) ⟕ ehr band join + proximity rank (:117-142);
    # claim_id breaks ties within the claim-duplicated cross product
    on, right_key, days_from, rank = _band_join_exprs(
        cfg, "vc", "e", "visit_date", ("record_id", "claim_id")
    )
    enc = (
        vc.alias("vc")
        .join(ehr.alias("e"), on, "left")
        .drop(right_key)
        .withColumnRenamed("provider_id", "ehr_provider_id")
        .withColumn("days_from_visit", days_from)
        .withColumn("ehr_proximity_rank", rank)
    )

    # --- rank-1 CASE projection + wide aggregation (:144-239)
    group, aggs, projection = _encounter_exprs(cfg)
    return enc.groupBy(*group).agg(*aggs).select(*projection)


def fact_patient_encounters_optimized(
    stg_vitals: DataFrame,
    stg_claims: DataFrame,
    stg_ehr: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Plan-rewrite variant of fact_patient_encounters (flagged,
    opt-in): the vitals-grain as-of fact the literal query is FOR.

    The literal model reproduces the reference's degenerate grouping
    (one output row per joined vitals×claim×ehr combination, claim
    aggregates double-counted across the ehr cross product). This
    variant keeps the reference's column contract but emits ONE row
    per vitals measurement and replaces both ROW_NUMBER window sorts
    with lexicographic struct-MIN hash aggregations (the technique of
    operators/joins.asof_select_min_by, tie-broken on claim_id /
    record_id exactly like the literal plan's deterministic ordering):

      vitals ⟕ claims band join → one hash-agg per (patient, ts):
        primary-claim struct min + in-band claim aggregates
      vitals ⟕ ehr band join    → one hash-agg (independent; the ehr
        join no longer rides on claim-duplicated rows)
      vitals ⟕ both aggregates on (patient_id, measurement_timestamp)

    Joined row volume is |v⋈c| + |v⋈e| instead of the literal's
    |v⋈c|·|ehr matches|, there is no window sort anywhere, and every
    shuffle keys on patient_id(+ts). Equivalence of the rank-1
    selections to the literal plan on tie-free data is asserted in
    tests/test_fact.py.

    Band-join strategy (VERDICT r7 item 5): both inner band joins go
    through joins.band_join_auto, whose one-row profiling agg picks
    plain vs date-bucketed from the measured shape on every run
    (bucketed wins once rows-per-key ≳ 50 AND date-spread ≳ 6 band
    widths). Inner mode has no left-uniqueness requirement, so either
    outcome is exact.
    """
    from ..operators.joins import band_join_auto

    def _dispatch_band_join(left: DataFrame, right: DataFrame, rdate: str) -> DataFrame:
        out, _strategy = band_join_auto(
            left, right, ["patient_id"], "measurement_timestamp", rdate,
            cfg.band_days, how="inner",
        )
        return out

    band = cfg.band_days
    vitals, claims, ehr = _lookback_scans(stg_vitals, stg_claims, stg_ehr, cfg)
    vkey = vitals.select("patient_id", "measurement_timestamp")
    vdate = F.to_date(F.col("measurement_timestamp"))

    # --- claims side: one inner band join + one hash-agg ------------
    cdist = F.abs(F.datediff(vdate, F.col("service_date")))
    vc = _dispatch_band_join(vkey, claims, "service_date")
    claim_packed = F.struct(
        cdist.alias("__dist"),
        F.col("claim_id").alias("__tb"),  # literal tie-breaker
        F.col("claim_id").alias("claim_id"),
        F.col("service_date").alias("service_date"),
        F.col("total_amount").alias("total_amount"),
        F.col("insurance_type").alias("insurance_type"),
        F.col("claim_status").alias("claim_status"),
        F.col("processing_days").alias("processing_days"),
    )
    cagg = vc.groupBy("patient_id", "measurement_timestamp").agg(
        F.min(claim_packed).alias("__c"),
        F.countDistinct("claim_id").alias("total_claims"),
        F.sum("total_amount").alias("total_claim_value"),
        F.avg("processing_days").alias("avg_processing_days"),
        F.sum(F.when(F.col("denied_claim"), 1).otherwise(0)).alias("denied_claims_count"),
        F.sum(F.when(F.col("paid_claim"), 1).otherwise(0)).alias("paid_claims_count"),
        F.sum(F.when(F.col("pending_claim"), 1).otherwise(0)).alias("pending_claims_count"),
        F.sum(F.when(F.col("high_value_claim"), 1).otherwise(0)).alias(
            "high_value_claims_count"
        ),
        F.sum("diagnosis_count").alias("__sum_diag"),
        F.sum("procedure_count").alias("__sum_proc"),
    )

    # --- ehr side: independent band join + hash-agg -----------------
    edist = F.abs(F.datediff(vdate, F.col("visit_date")))
    ve = _dispatch_band_join(vkey, ehr, "visit_date")
    ehr_packed = F.struct(
        edist.alias("__dist"),
        F.col("record_id").alias("__tb"),
        F.col("record_id").alias("record_id"),
        F.col("visit_date").alias("visit_date"),
        F.col("diagnosis").alias("diagnosis"),
        F.col("treatment").alias("treatment"),
        F.col("medication_count").alias("medication_count"),
        F.col("lab_test_count").alias("lab_test_count"),
    )
    eagg = ve.groupBy("patient_id", "measurement_timestamp").agg(
        F.min(ehr_packed).alias("__e"),
        F.countDistinct("record_id").alias("total_ehr_records"),
        F.sum("medication_count").alias("__sum_med"),
    )

    # --- stitch at vitals grain -------------------------------------
    keys = ["patient_id", "measurement_timestamp"]
    out = vitals.join(cagg, keys, "left").join(eagg, keys, "left")
    total_claims = F.coalesce(F.col("total_claims"), F.lit(0))
    total_ehr = F.coalesce(F.col("total_ehr_records"), F.lit(0))
    return out.select(
        *VITALS_COLS,
        F.col("__c.claim_id").alias("primary_claim_id"),
        F.col("__c.service_date").alias("primary_service_date"),
        F.col("__c.total_amount").alias("primary_claim_amount"),
        F.col("__c.insurance_type").alias("primary_insurance_type"),
        F.col("__c.claim_status").alias("primary_claim_status"),
        F.col("__c.processing_days").alias("primary_processing_days"),
        F.col("__e.record_id").alias("primary_ehr_record_id"),
        F.col("__e.visit_date").alias("primary_visit_date"),
        F.col("__e.diagnosis").alias("primary_diagnosis"),
        F.col("__e.treatment").alias("primary_treatment"),
        F.col("__e.medication_count").alias("primary_medication_count"),
        F.col("__e.lab_test_count").alias("primary_lab_test_count"),
        total_claims.alias("total_claims"),
        total_ehr.alias("total_ehr_records"),
        F.col("total_claim_value"),
        F.col("avg_processing_days"),
        F.coalesce(F.col("denied_claims_count"), F.lit(0)).alias("denied_claims_count"),
        F.coalesce(F.col("paid_claims_count"), F.lit(0)).alias("paid_claims_count"),
        F.coalesce(F.col("pending_claims_count"), F.lit(0)).alias("pending_claims_count"),
        F.coalesce(F.col("high_value_claims_count"), F.lit(0)).alias(
            "high_value_claims_count"
        ),
        (
            total_claims * 0.3
            + total_ehr * 0.2
            + F.coalesce(F.col("__sum_diag"), F.lit(0)) * 0.2
            + F.coalesce(F.col("__sum_proc"), F.lit(0)) * 0.2
            + F.coalesce(F.col("__sum_med"), F.lit(0)) * 0.1
        ).alias("encounter_complexity_score"),
        F.when(
            F.col("low_oxygen_alert")
            | F.col("elevated_heart_rate_alert")
            | F.col("low_heart_rate_alert")
            | F.col("fever_alert"),
            F.lit("high_risk"),
        )
        .when(
            (F.col("heart_rate_category") != "normal") | (F.col("temperature") > 37.5),
            F.lit("medium_risk"),
        )
        .otherwise(F.lit("low_risk"))
        .alias("risk_level"),
        F.when((total_claims > 0) & (total_ehr > 0), F.lit("comprehensive"))
        .when(total_claims > 0, F.lit("claims_only"))
        .when(total_ehr > 0, F.lit("ehr_only"))
        .otherwise(F.lit("vitals_only"))
        .alias("encounter_type"),
        now_col(cfg).alias("created_at"),
        now_col(cfg).alias("updated_at"),
    )
