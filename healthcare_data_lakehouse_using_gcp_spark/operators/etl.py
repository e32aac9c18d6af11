"""Streaming/batch ETL: parse → validate → filter → enrich → demux.

Re-expresses the reference Beam pipeline
(dataflow/pipelines/healthcare_etl_pipeline.py:49-223) as a single
declarative transform over a DataFrame of raw JSON strings. The same
function runs on ``spark.read`` and ``spark.readStream`` inputs —
the reference's batch/streaming mode switch (T4,
healthcare_etl_pipeline.py:235,255-269) falls out for free because
every step is a stateless per-record Column expression.

Beam stage → Spark mapping (SURVEY.md §2.9):
  parse_message (S2/U1, :49-75)      → from_json PERMISSIVE + corrupt col
  required-field validation (P1)     → isNull flag expressions
  range anomalies (P2, :84-100)      → between() flags
  DataQualityFilter (P3/U2,:109-121) → one filter()
  DataEnricher (U3, :123-208)        → one withColumns projection
  DataPartitioner (P7/U4, :210-223)  → 4 filters off one parsed DF

The transform is fixed per EngineConfig, so every stage's Column
expressions are built once per config (functions/prebuilt.py) and
applied to each new batch or micro-batch; only the DataFrame
operations themselves cross py4j per call.

Scale note: all expressions are JVM-side and codegen-friendly; the
parsed DF should be narrow-transformed only (no shuffle anywhere in
this module), so the pipeline is embarrassingly parallel at any
partition count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import scalars as S
from ..functions.prebuilt import prebuilt
from ..schemas import envelope_schema

# demux route of each known data_type; any other type routes to
# "unknown". demux and route_counts both read this one mapping.
ROUTE_OF_TYPE = {
    "patient_vitals": "vitals",
    "insurance_claim": "claims",
    "ehr_record": "ehr",
}

REQUIRED_FIELDS = {
    # healthcare_etl_pipeline.py:77-82, 91-96, 102-107
    "patient_vitals": ["patient_id", "heart_rate", "temperature", "timestamp"],
    "insurance_claim": ["claim_id", "patient_id", "total_amount", "service_date"],
    "ehr_record": ["record_id", "patient_id", "visit_date", "diagnosis"],
}


@prebuilt
def _parse_exprs(cfg: EngineConfig) -> tuple:
    schema = envelope_schema()
    decode = (
        F.from_json(
            F.col("value"),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
        F.col("value").alias("_raw_message"),
    )
    unpack = (F.col("r.*"), F.col("_raw_message"))
    payload_fields = [f.name for f in schema.fields if f.name != "_corrupt_record"]
    all_null = F.lit(True)
    for name in payload_fields:
        all_null = all_null & F.col(name).isNull()
    corrupt = F.when(
        all_null & F.col("_corrupt_record").isNull(), F.col("_raw_message")
    ).otherwise(F.col("_corrupt_record"))
    data_type = F.when(
        F.col("_corrupt_record").isNull(),
        F.coalesce(F.col("data_type"), F.lit("unknown")),
    ).otherwise(F.col("data_type"))
    metadata = {
        "processed_at": S.now_col(cfg),  # healthcare_etl_pipeline.py:55
        "pipeline_version": F.lit(cfg.pipeline_version),  # :56
    }
    return decode, unpack, corrupt, data_type, metadata


def parse_envelope(raw: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """S2: JSON bytes → typed columns + processing metadata.

    ``raw`` must have a string column ``value`` (one JSON message per
    row — the shape of kafka/file-stream sources). Malformed JSON
    lands in ``_corrupt_record`` (PERMISSIVE), mirroring the error
    record of healthcare_etl_pipeline.py:70-75; we keep the raw
    message for the error sink instead of a dict with an 'error' key.

    from_json yields a NULL struct (all fields null) for malformed
    input rather than populating the corrupt column; the raw text is
    recovered so error records keep the original payload. Only a TRUE
    parse failure (every parsed field null) is corrupt — well-formed
    JSON that merely lacks data_type routes to 'unknown', matching
    element.get('data_type', 'unknown')
    (healthcare_etl_pipeline.py:58, :222-223).
    """
    decode, unpack, corrupt, data_type, metadata = _parse_exprs(cfg)
    return (
        raw.select(*decode)
        .select(*unpack)
        .withColumn("_corrupt_record", corrupt)
        .withColumn("data_type", data_type)
        .drop("_raw_message")
        .withColumns(metadata)
    )


@prebuilt
def _flag_columns(cfg: EngineConfig) -> dict[str, Column]:
    t = cfg.thresholds
    missing = F.lit(False)
    for dtype, fields in REQUIRED_FIELDS.items():
        cond = F.lit(False)
        for name in fields:
            cond = cond | F.col(name).isNull()
        missing = F.when(F.col("data_type") == dtype, cond).otherwise(missing)
    return {
        "missing_required": F.coalesce(missing, F.lit(False)),
        # healthcare_etl_pipeline.py:84-89
        "heart_rate_anomaly": F.when(
            F.col("data_type") == "patient_vitals",
            S.range_anomaly(F.col("heart_rate"), t.min_heart_rate, t.max_heart_rate),
        ).otherwise(F.lit(False)),
        "temperature_anomaly": F.when(
            F.col("data_type") == "patient_vitals",
            S.range_anomaly(F.col("temperature"), t.min_temperature, t.max_temperature),
        ).otherwise(F.lit(False)),
        # healthcare_etl_pipeline.py:98-100 (amount <= 0)
        "amount_anomaly": F.when(
            (F.col("data_type") == "insurance_claim")
            & F.col("total_amount").isNotNull()
            & (F.col("total_amount") <= 0),
            F.lit(True),
        ).otherwise(F.lit(False)),
    }


def with_validation_flags(parsed: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """P1 + P2: required-field and range-anomaly flags as columns.

    The reference raises per-row and converts to error records
    (healthcare_etl_pipeline.py:58-69); declaratively that is one
    boolean per condition.
    """
    return parsed.withColumns(_flag_columns(cfg))


ANOMALY_FLAGS = ["heart_rate_anomaly", "temperature_anomaly", "amount_anomaly"]


@prebuilt
def _quality_condition() -> Column:
    cond = F.col("_corrupt_record").isNull() & ~F.col("missing_required")
    for flag in ANOMALY_FLAGS:
        cond = cond & ~F.col(flag)
    return cond


def quality_filter(flagged: DataFrame) -> DataFrame:
    """P3: drop error records and any row with a truthy anomaly flag.

    Mirrors DataQualityFilter.process
    (healthcare_etl_pipeline.py:109-121) including its quirk: parse
    errors are silently dropped here, NOT routed to the error sink
    (SURVEY.md §3.1 step 5).
    """
    return flagged.filter(_quality_condition())


@prebuilt
def _enrich_columns(cfg: EngineConfig) -> dict[str, Column]:
    t = cfg.thresholds
    missing_count = (
        (F.col("patient_id").isNull() | (F.col("patient_id") == "")).cast("int")
        + (F.col("timestamp").isNull() | (F.col("timestamp") == "")).cast("int")
    )
    anomaly_count = sum(F.col(f).cast("int") for f in ANOMALY_FLAGS)
    ts = F.to_timestamp(F.col("timestamp"))
    service_d = F.to_date(F.col("service_date"))
    submission_d = F.to_date(F.col("submission_date"))
    return {
        "data_quality_score": S.quality_score(missing_count, anomaly_count),
        # vitals enrichment (:164-175)
        "heart_rate_category": F.when(
            F.col("data_type") == "patient_vitals",
            S.heart_rate_category(F.col("heart_rate"), t),
        ),
        "hour_of_day": F.when(F.col("data_type") == "patient_vitals", S.hour_of_day(ts)),
        "day_of_week": F.when(F.col("data_type") == "patient_vitals", S.day_of_week(ts)),
        # claims enrichment (:182-194)
        "processing_days": F.when(
            F.col("data_type") == "insurance_claim",
            F.datediff(submission_d, service_d),
        ),
        "amount_category": F.when(
            F.col("data_type") == "insurance_claim",
            S.amount_category(F.col("total_amount")),
        ),
        # ehr enrichment (:201-206)
        "medication_count": F.when(
            F.col("data_type") == "ehr_record", F.size(F.col("medications"))
        ),
        "lab_test_count": F.when(
            F.col("data_type") == "ehr_record", F.size(F.map_keys(F.col("lab_results")))
        ),
    }


def enrich(clean: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """U3: data_quality_score + per-type derived columns
    (healthcare_etl_pipeline.py:123-208).

    Scoring (_calculate_quality_score, :143-159): start at 1.0,
    -0.2 per falsy field in ['patient_id', 'timestamp'], -0.3 per
    truthy *_anomaly flag, floored at 0. Anomalies are zero here by
    construction (the filter ran first), but the expression keeps the
    general form so the function is also correct pre-filter.
    """
    return clean.withColumns(_enrich_columns(cfg))


ROUTE_COLS = {
    "vitals": [
        "patient_id", "timestamp", "heart_rate", "blood_pressure_systolic",
        "blood_pressure_diastolic", "temperature", "oxygen_saturation",
        "respiratory_rate", "device_id", "location", "processed_at",
        "pipeline_version", "data_quality_score", "heart_rate_category",
        "hour_of_day", "day_of_week",
    ],
    "claims": [
        "claim_id", "patient_id", "provider_id", "service_date",
        "diagnosis_codes", "procedure_codes", "total_amount", "insurance_type",
        "claim_status", "submission_date", "processed_at", "pipeline_version",
        "data_quality_score", "processing_days", "amount_category",
    ],
    "ehr": [
        "record_id", "patient_id", "visit_date", "provider_id", "diagnosis",
        "treatment", "medications", "lab_results", "notes", "processed_at",
        "pipeline_version", "data_quality_score", "medication_count",
        "lab_test_count",
    ],
}


@prebuilt
def _route_exprs() -> tuple[dict[str, tuple[Column, tuple[Column, ...]]], Column]:
    routes = {
        route: (F.col("data_type") == dtype, tuple(F.col(c) for c in ROUTE_COLS[route]))
        for dtype, route in ROUTE_OF_TYPE.items()
    }
    # well-formed rows with unrecognized data_type (:222-223)
    unknown = F.col("_corrupt_record").isNull() & ~F.col("data_type").isin(*ROUTE_OF_TYPE)
    return routes, unknown


def demux(enriched: DataFrame) -> dict[str, DataFrame]:
    """P7: route by data_type (DataPartitioner,
    healthcare_etl_pipeline.py:210-223).

    Four filters over one lineage; in batch mode callers should
    ``.cache()`` upstream (or write partitionBy("data_type")) so the
    scan+parse isn't re-executed per branch.
    """
    routes, unknown = _route_exprs()
    out = {route: enriched.filter(cond).select(*cols) for route, (cond, cols) in routes.items()}
    out["unknown"] = enriched.filter(unknown)
    return out


# the column each entity zone derives its event_date partition from
ENTITY_DATE_COL = {
    "vitals": "timestamp",
    "claims": "service_date",
    "ehr": "visit_date",
}


@prebuilt
def _event_date_columns() -> dict[str, Column]:
    return {name: F.to_date(F.col(c)) for name, c in ENTITY_DATE_COL.items()}


def with_event_date(routed: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The three entity routes, each with its zone's derived
    ``event_date`` column; batch run_etl and the streaming sink both
    commit these frames."""
    return {
        name: routed[name].withColumn("event_date", col)
        for name, col in _event_date_columns().items()
    }


def route_counts(enriched: DataFrame) -> dict[str, int]:
    """Row count of every demux route, from ONE aggregate over the
    (quality-filtered) enriched frame instead of a count job per
    route: a data_type outside ROUTE_OF_TYPE counts as unknown."""
    counts = dict.fromkeys((*ROUTE_OF_TYPE.values(), "unknown"), 0)
    for row in enriched.groupBy("data_type").count().collect():
        counts[ROUTE_OF_TYPE.get(row["data_type"], "unknown")] += row["count"]
    return counts


def _enriched(raw: DataFrame, cfg: EngineConfig) -> DataFrame:
    """parse → flags → filter → enrich: the frame demux splits.
    Unknown-type rows pass the quality filter unchanged (no required
    fields defined for them, no anomaly flags), matching the
    reference flow where DataPartitioner runs post-filter
    (healthcare_etl_pipeline.py:277-293)."""
    flagged = with_validation_flags(parse_envelope(raw, cfg), cfg)
    return enrich(quality_filter(flagged), cfg)


def build_etl(
    raw: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    """Full pipeline: parse → flags → filter → enrich → demux.

    Works identically on batch and streaming inputs (T4). Nothing is
    persisted: streaming callers persist the micro-batch instead, and
    batch callers that touch several routes use build_etl_cached.
    """
    return demux(_enriched(raw, cfg))


def build_etl_cached(
    raw: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> tuple[dict[str, DataFrame], DataFrame]:
    """build_etl over a PERSISTED enriched frame, so the four demux
    branches (and any per-branch counts) share one parse/enrich pass
    instead of recomputing the lineage per consumer. Returns the
    routes and the enriched frame, so the caller can unpersist it
    once its routes are materialized instead of leaking cached
    blocks across runs in a long session."""
    enriched = _enriched(raw, cfg).persist()
    return demux(enriched), enriched
