"""End-to-end lakehouse orchestration — the engine's top-level API.

Replaces the reference's deployment surface (setup script + Airflow
DAG + Dataflow jobs + dbt invocations — setup_healthcare_lakehouse.py,
airflow/dags/healthcare_data_pipeline_dag.py:139-149) with one
class over a warehouse root:

    raw/        landed JSON messages (S1 input shape)
    processed/  ETL output per entity, date-partitioned parquet (S3)
    errors/     unknown-type records as JSON (S4)
    curated/    fact table (S7); staging registered as views (S6)

Zone semantics follow the reference's 3-bucket / 3-dataset split
(terraform/main.tf:118-245). Writes partition by event date — the
partitioning the reference *documents* but never implemented
(docs/architecture/technical_architecture.md:162-164, SURVEY.md §4)
— so every lookback scan (S5) partition-prunes instead of reading
the full history: at 100 TB that is the difference between scanning
30 partitions and 2555 days of them.
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
        """Resolve a processed-zone entity table. Zones written in
        snapshot mode (run_etl(txn_id=...) or the streaming snapshot
        sink) resolve through their manifest — explicit file list, so
        torn/orphan commits are invisible — and accept a
        ``prune=(col, op, value)`` manifest-level file-skipping
        predicate (SnapshotTable.prune_files): a lookback scan opens
        only the files whose footer range can match. Plain zones read
        the directory as before (hive partition pruning applies
        there); ``prune`` is ignored for them."""
        path = self.zone_path("processed", entity)
        if os.path.isdir(os.path.join(path, "_snapshots")):
            from .sources.snapshots import SnapshotTable

            return SnapshotTable(self.spark, path).read(prune=prune)
        return self.spark.read.parquet(path)

    # --- ingestion → processed (the Beam pipeline, batch mode) -------

    @staticmethod
    def _reject_zone_mode_mix(zone: str, snapshot: bool) -> None:
        """Refuse to write a zone in the OTHER mode than it already
        holds data in (ADVICE r8). A snapshot commit next to plain
        appended parquet shadows those rows (manifest reads don't
        list them); a plain append into a snapshot zone writes files
        no manifest references. Both silently drop committed rows
        from reads — fail loudly instead and point at the migration.

        Detection is O(top-level entries), no tree walk: a plain
        date-partitioned zone has event_date=*/part files at the top
        level; a snapshot zone has only _snapshots/ + data/."""
        if not os.path.isdir(zone):
            return
        entries = set(os.listdir(zone))
        has_manifest = "_snapshots" in entries
        has_plain = any(
            e.startswith("event_date=") or e.endswith(".parquet")
            for e in entries
        )
        if snapshot and has_plain:
            raise ValueError(
                f"zone {zone} already holds PLAIN appended parquet; a "
                "snapshot commit would shadow those rows. Migrate first: "
                "read the zone, commit_append it as the snapshot's "
                "initial version, then remove the plain files."
            )
        if not snapshot and has_manifest:
            raise ValueError(
                f"zone {zone} is snapshot-managed (_snapshots/ present); "
                "a plain append would write files no manifest references. "
                "Pass txn_id=... to keep committing through the manifest."
            )

    def run_etl(
        self,
        raw_path: str | None = None,
        raw_df: DataFrame | None = None,
        txn_id: str | None = None,
        snapshot: bool | None = None,
    ) -> dict:
        """Parse/validate/filter/enrich/demux raw JSON messages and
        append each route into the processed zone (date-partitioned).

        Counterpart of `python healthcare_etl_pipeline.py` in batch
        mode (healthcare_etl_pipeline.py:248-249). Returns per-route
        row counts (the Count.Globally metric, :351-355).

        ``txn_id`` (VERDICT r7 item 6) switches the entity-zone writes
        from plain append parquet to SnapshotTable.commit_append with
        a per-entity idempotence token — re-running the same batch
        (orchestrator retry, backfill replay) converges instead of
        duplicating rows; the counts still report THIS run's routed
        rows either way. Mixing modes on one zone is REJECTED here
        (ADVICE r8): a snapshot commit into a zone holding plain
        appended parquet would shadow those rows (read_processed then
        resolves via the manifest, which doesn't list them), and a
        plain append into a snapshot zone writes files no manifest
        references — either way previously committed rows silently
        vanish from reads. Migrate explicitly instead (read the plain
        zone, commit it as the snapshot's initial version, remove the
        plain files).

        ``snapshot`` (r10, ROADMAP item 3) decouples the sink mode
        from idempotence: True commits the entity zones through
        SnapshotTable manifests even without a txn token (atomic,
        time-travel, torn writes invisible; replay protection still
        needs txn_id), False forces the reference-parity plain
        date-partitioned append. Default None keeps the historical
        inference: snapshot iff txn_id was given. The CLI defaults to
        snapshot mode from r10 (opt out with --plain-append).
        """
        snap = (txn_id is not None) if snapshot is None else bool(snapshot)
        if txn_id is not None and not snap:
            raise ValueError(
                "txn_id requires the snapshot sink: idempotence tokens "
                "live in the manifest (pass snapshot=True or drop txn_id)"
            )
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
                zone = self.zone_path("processed", name)
                self._reject_zone_mode_mix(zone, snapshot=snap)
                if snap:
                    from .sources.snapshots import SnapshotTable

                    # rebalance BEFORE the snapshot append (optimization
                    # r17, guide §6, VERDICT r16 item 6): _write_data
                    # deliberately never reshuffles (it also serves the
                    # Z-order/Hilbert layout commits, whose clustering a
                    # rebalance would destroy), so sliver control is the
                    # CALLER's job. A plain ETL batch has no layout to
                    # protect — without this, every batch appends one
                    # part file per upstream task. Clustering by
                    # event_date also tightens the per-file min/max
                    # stats the snapshot scan prunes with.
                    SnapshotTable(self.spark, zone).commit_append(
                        df.hint("rebalance", "event_date"),
                        txn_id=(
                            f"{txn_id}-{name}" if txn_id is not None else None
                        ),
                    )
                else:
                    # rebalance by the partition column (optimization
                    # r16, guide §6): otherwise each task writes a
                    # sliver into every touched date directory and the
                    # zone accumulates (tasks × dates) tiny files per
                    # batch; AQE packs whole advisory-sized files per
                    # date and still splits a hot date across writers
                    df.hint("rebalance", "event_date").write.mode(
                        "append"
                    ).partitionBy("event_date").parquet(zone)
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

    def run_all(
        self,
        raw_path: str,
        txn_id: str | None = None,
        snapshot: bool | None = None,
    ) -> dict[str, object]:
        etl_counts = self.run_etl(raw_path, txn_id=txn_id, snapshot=snapshot)
        self.run_models()
        out = self.run_reports()
        out["etl_counts"] = etl_counts
        return out
