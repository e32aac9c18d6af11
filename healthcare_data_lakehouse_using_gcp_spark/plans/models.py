"""Model runner — the dbt replacement (SURVEY.md §3.2).

dbt's contribution to the reference is: an ordered DAG of named
models (`ref()` edges), each materialized as a view (staging) or
table (marts) — dbt/dbt_project.yml:25-30,74-87. Here that is a
list of Model specs executed against the Spark catalog:
  view  → createOrReplaceTempView (S6)
  table → write.saveAsTable / parquet (S7)

`ref()`/`source()` resolution (J4) = catalog lookups by name. The
builders are fixed plans whose Column expressions are built once per
EngineConfig (functions/prebuilt.py), so a repeated run pays only the
DataFrame operations, writes and reads.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT_CONFIG, EngineConfig


@dataclass
class Model:
    name: str
    builder: Callable[..., DataFrame]  # (spark-resolved dep DataFrames..., cfg)
    deps: list[str] = field(default_factory=list)  # ref()/source() names, in builder arg order
    materialization: str = "view"  # view | table


class ModelRunner:
    """Executes models in dependency order against a SparkSession.

    Sources (raw inputs) are registered up front; each model's
    builder receives its deps as DataFrames (catalog lookups) and the
    shared EngineConfig. Table materializations write parquet under
    ``warehouse`` and re-register the written table (so downstream
    models read the materialized data, as dbt does).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str | None = None,
        cfg: EngineConfig = DEFAULT_CONFIG,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.cfg = cfg
        self.models: list[Model] = []

    def add_source(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def add(self, model: Model) -> None:
        self.models.append(model)

    def ref(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def run(self) -> dict[str, DataFrame]:
        out: dict[str, DataFrame] = {}
        for m in self.models:
            dep_dfs = [self.ref(d) for d in m.deps]
            df = m.builder(*dep_dfs, self.cfg)
            if m.materialization == "table":
                if self.warehouse is None:
                    raise ValueError(f"table materialization for {m.name} needs a warehouse")
                path = os.path.join(self.warehouse, "curated", m.name)
                df.write.mode("overwrite").parquet(path)
                df = self.spark.read.parquet(path)
            df.createOrReplaceTempView(m.name)
            out[m.name] = df
        return out


def healthcare_models() -> list[Model]:
    """The reference's model DAG: processed sources → 3 staging views
    → fact table (fact_patient_encounters.sql:31,59,76), plus the
    dims its docs promise but never shipped
    (technical_architecture.md:92-94 → plans/dims.py)."""
    from . import dims, fact, staging

    return [
        Model("stg_patient_vitals", staging.stg_patient_vitals, ["patient_vitals"], "view"),
        Model(
            "stg_insurance_claims", staging.stg_insurance_claims, ["insurance_claims"], "view"
        ),
        Model("stg_ehr_records", staging.stg_ehr_records, ["ehr_records"], "view"),
        Model(
            "fact_patient_encounters",
            fact.fact_patient_encounters,
            ["stg_patient_vitals", "stg_insurance_claims", "stg_ehr_records"],
            "table",
        ),
        Model(
            "dim_patients",
            dims.dim_patients,
            ["stg_patient_vitals", "stg_insurance_claims", "stg_ehr_records"],
            "table",
        ),
        Model(
            "dim_providers",
            dims.dim_providers,
            ["stg_insurance_claims", "stg_ehr_records"],
            "table",
        ),
    ]
