"""End-to-end lakehouse orchestration — the engine's top-level API.

Replaces the reference's deployment surface (setup script + Airflow
DAG + Dataflow jobs + dbt invocations — setup_healthcare_lakehouse.py,
airflow/dags/healthcare_data_pipeline_dag.py:139-149) with one
class over a warehouse root:

    raw/        landed JSON messages (S1 input shape)
    processed/  ETL output per entity, one SnapshotTable each (S3)
    errors/     unknown-type records as JSON (S4)
    curated/    fact table (S7); staging registered as views (S6)

Zone semantics follow the reference's 3-bucket / 3-dataset split
(terraform/main.tf:118-245). Every processed-zone write — batch
run_etl and the streaming sink alike — is an atomic SnapshotTable
commit, and reads resolve the zone through its manifest, not by
listing the directory, so a torn or orphaned write is never visible.
Each commit records per-file [min, max] of every column, including
the derived ``event_date`` (the partitioning the reference documents
but never implemented, docs/architecture/technical_architecture.md:
162-164, SURVEY.md §4). A lookback scan that passes
``read_processed(entity, prune=("event_date", ">=", day))`` opens
only the files whose range can match. Pruning is opt-in:
run_models and run_reports read whole zones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, EngineConfig
from .operators.etl import build_etl_cached, route_counts
from .plans import reports
from .plans.models import ModelRunner, healthcare_models
from .sources.readers import read_json_batch
from .sources.snapshots import SnapshotTable

ENTITY_DATE_COL = {
    "vitals": "timestamp",
    "claims": "service_date",
    "ehr": "visit_date",
}


class HealthcareLakehouse:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.cfg = cfg

    # --- zone paths --------------------------------------------------

    def zone_path(self, zone: str, table: str = "") -> str:
        return os.path.join(self.warehouse, zone, table)

    def read_processed(
        self, entity: str, prune: tuple[str, str, object] | None = None
    ) -> DataFrame:
        """Resolve a processed-zone entity table through its snapshot
        manifest: an explicit file list, so torn/orphan commits are
        invisible. ``prune=(col, op, value)`` is an opt-in
        manifest-level file-skipping predicate
        (SnapshotTable.prune_files): a lookback scan opens only the
        files whose footer range can match. Raises ValueError for a
        zone that was never written."""
        return SnapshotTable(self.spark, self.zone_path("processed", entity)).read(
            prune=prune
        )

    # --- ingestion → processed (the Beam pipeline, batch mode) -------

    def run_etl(
        self,
        raw_path: str | None = None,
        raw_df: DataFrame | None = None,
        txn_id: str | None = None,
        snapshot: bool = True,
    ) -> dict:
        """Parse/validate/filter/enrich/demux raw JSON messages and
        commit each route into its processed-zone SnapshotTable.

        Counterpart of `python healthcare_etl_pipeline.py` in batch
        mode (healthcare_etl_pipeline.py:248-249). Returns per-route
        row counts (the Count.Globally metric, :351-355).

        Each entity commit is one atomic manifest version. ``txn_id``
        adds a per-entity idempotence token: re-running the same batch
        (orchestrator retry, backfill replay) converges instead of
        duplicating rows; without it a re-run appends a second
        version. The counts report THIS run's routed rows either way.
        """
        # perfbench/workloads.py passes snapshot=True; no other mode exists
        if snapshot is not True:
            raise ValueError("processed zones are snapshot tables; snapshot must be True")
        if raw_df is None:
            raw_df = read_json_batch(self.spark, raw_path)
        # cache=True: the four routes + counts share one parse/enrich
        # pass instead of recomputing the batch lineage per branch
        routed, enriched = build_etl_cached(raw_df, self.cfg, cache=True)
        try:
            # THIS batch's routed rows, not the re-read table: the
            # reference's Count.Globally metric is run-scoped
            # (healthcare_etl_pipeline.py:351-355). One aggregate job
            # also fills the cache the route writes then read.
            counts = route_counts(enriched)
            for name, date_col in ENTITY_DATE_COL.items():
                df = routed[name].withColumn(
                    "event_date", F.to_date(F.col(date_col))
                )
                # rebalance BEFORE the snapshot append (guide §6):
                # _write_data never reshuffles (it also serves the
                # Z-order/Hilbert layout commits, whose clustering a
                # rebalance would destroy), so sliver control is the
                # caller's job. Without it every batch appends one
                # part file per upstream task; clustering by
                # event_date also tightens the per-file min/max stats
                # the snapshot scan prunes with.
                SnapshotTable(self.spark, self.zone_path("processed", name)).commit_append(
                    df.hint("rebalance", "event_date"),
                    txn_id=f"{txn_id}-{name}" if txn_id is not None else None,
                )
            if counts["unknown"] > 0:
                routed["unknown"].drop("_corrupt_record").write.mode(
                    "append"
                ).json(self.zone_path("errors"))
        finally:
            enriched.unpersist()
        return counts

    # --- bucketed curated tables (shuffle-free repeated joins) -------

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str = "patient_id",
        num_buckets: int = 32,
    ) -> DataFrame:
        """Bucketed saveAsTable into the curated zone.

        bucketBy(patient_id) hash-clusters the rows on the fact join
        key at WRITE time, so every later join between two tables
        bucketed alike plans with NO Exchange on either side (the
        bucketed scan's output partitioning already satisfies the
        join's required distribution — and, being a prefix of it, the
        fact windows' (patient_id, ts) clustering too). sortBy keeps
        buckets sorted on the key, letting sort-merge joins skip the
        per-partition sort. At 100 TB this turns every curated
        rebuild/backfill join from a full re-shuffle into a local
        merge. Requires a catalog-backed table (saveAsTable): plain
        .parquet(path) writes cannot record bucketing metadata.
        """
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", self.zone_path("curated", table))
            .saveAsTable(table)
        )
        return self.spark.table(table)

    def materialize_bucketed_staging(
        self, frames: dict[str, DataFrame], num_buckets: int = 32
    ) -> dict[str, DataFrame]:
        """ROADMAP 5: write the fact inputs as patient_id-bucketed
        curated tables; returns the catalog-backed frames to build the
        fact from (joins between them are exchange-free)."""
        return {
            name: self.write_bucketed(df, f"curated_{name}", num_buckets=num_buckets)
            for name, df in frames.items()
        }

    # --- processed → staging views → curated fact (the dbt layer) ----

    def run_models(self) -> dict[str, DataFrame]:
        """Execute the model DAG (staging views + fact table), like
        `dbt run` (healthcare_data_pipeline_dag.py:107-115)."""
        runner = ModelRunner(self.spark, warehouse=self.warehouse, cfg=self.cfg)
        runner.add_source("patient_vitals", self.read_processed("vitals"))
        runner.add_source("insurance_claims", self.read_processed("claims"))
        runner.add_source("ehr_records", self.read_processed("ehr"))
        for m in healthcare_models():
            runner.add(m)
        return runner.run()

    # --- reports (the Airflow-embedded analytics) --------------------

    def run_reports(self) -> dict[str, object]:
        """The six DAG queries + their threshold checks
        (healthcare_data_pipeline_dag.py:152-328)."""
        vitals = self.read_processed("vitals")
        fact = self.spark.read.parquet(self.zone_path("curated", "fact_patient_encounters"))
        out: dict[str, object] = {}
        statuses: dict[str, str] = {}
        for key, fn in (
            ("freshness", lambda: reports.check_freshness(vitals, self.cfg)),
            ("quality", lambda: reports.check_quality(vitals, self.cfg)),
            ("monitoring", lambda: reports.patient_monitoring_report(fact, self.cfg).collect()),
            ("claims", lambda: reports.claims_processing_report(fact, self.cfg).collect()),
            ("health", lambda: reports.check_pipeline_health(fact, self.cfg)),
            ("staleness", lambda: reports.check_staleness(fact, self.cfg)),
        ):
            # gate failures are report results, not crashes (the DAG
            # logs-and-raises per task; we surface them per report).
            # Severity follows the dbt gate semantics
            # (dbt_project.yml:89-94 → config.GatePolicy): a warn_if
            # breach reports status 'warn' and keeps going; only
            # error_if breaches (and the DAG's hard health failures)
            # surface as 'error'.
            try:
                res = fn()
                out[key] = res
                statuses[key] = (
                    res.get("gate_status", "pass") if isinstance(res, dict) else "pass"
                )
            except reports.PipelineHealthError as e:
                out[key] = {"gate_failed": str(e), "gate_status": "error"}
                statuses[key] = "error"
        out["gate_statuses"] = statuses
        return out

    # --- one-shot pipeline (the full DAG run) ------------------------

    def run_all(self, raw_path: str, txn_id: str | None = None) -> dict[str, object]:
        etl_counts = self.run_etl(raw_path, txn_id=txn_id)
        self.run_models()
        out = self.run_reports()
        out["etl_counts"] = etl_counts
        return out
