"""End-to-end lakehouse test: raw JSON → zones → fact → reports,
including manifest-level file skipping on the processed zone."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
from healthcare_data_lakehouse_using_gcp_spark.sources.generator import HealthcareDataGenerator
from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import SnapshotTable


def test_full_pipeline(spark, cfg, tmp_path):
    gen = HealthcareDataGenerator(seed=23, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    msgs = gen.generate_messages(400)
    (raw_dir / "batch1.json").write_text("\n".join(msgs))

    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    out = lh.run_all(str(raw_dir))

    assert out["etl_counts"]["vitals"] > 0
    assert out["freshness"]["recent_records"] > 0
    assert out["health"]["total_encounters"] > 0
    assert spark.table("fact_patient_encounters").count() > 0
    # every report carries a dbt-style severity status in the facade
    assert set(out["gate_statuses"]) == {
        "freshness", "quality", "monitoring", "claims", "health", "staleness"
    }
    assert all(s in ("pass", "warn", "error") for s in out["gate_statuses"].values())

    # a second batch a month older: its commit's files cover disjoint
    # event dates, so a single-date lookback can skip them
    old = HealthcareDataGenerator(seed=24, now=cfg.as_of - dt.timedelta(days=30))
    old_dir = tmp_path / "raw_old"
    old_dir.mkdir()
    (old_dir / "batch0.json").write_text("\n".join(old.generate_messages(400)))
    lh.run_etl(str(old_dir))

    vit = SnapshotTable(spark, lh.zone_path("processed", "vitals"))
    one_date = str(
        lh.read_processed("vitals").agg(F.max("event_date")).first()[0]
    )
    pred = ("event_date", "==", one_date)
    keep, total = vit.prune_files(vit.latest_version(), pred)
    assert 0 < len(keep) < total
    on_date = F.col("event_date") == F.lit(one_date).cast("date")
    pruned = lh.read_processed("vitals", prune=pred).filter(on_date)
    full = lh.read_processed("vitals").filter(on_date)
    assert pruned.count() == full.count() > 0
    assert pruned.exceptAll(full).count() == full.exceptAll(pruned).count() == 0


def test_facade_warn_gate_does_not_raise(spark, cfg, tmp_path):
    """A warn_if breach surfaces as status 'warn' in run_reports output
    without raising (dbt_project.yml:89-94 severity semantics)."""
    import dataclasses

    from healthcare_data_lakehouse_using_gcp_spark.config import GatePolicy

    gen = HealthcareDataGenerator(seed=31, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "b.json").write_text("\n".join(gen.generate_messages(400)))
    # warn on any staleness at all, never error
    tight = dataclasses.replace(
        cfg, staleness_gate=GatePolicy(warn_if=0, error_if=None, store_failures=False)
    )
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), tight)
    out = lh.run_all(str(raw_dir))
    assert out["gate_statuses"]["staleness"] == "warn"
    assert out["staleness"]["gate_status"] == "warn"
    assert "gate_failed" not in out["staleness"]


def test_incremental_append(spark, cfg, tmp_path):
    gen = HealthcareDataGenerator(seed=29, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "b1.json").write_text("\n".join(gen.generate_messages(100)))
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    c1 = lh.run_etl(str(raw_dir))["vitals"]
    # Run-scoped counts (Count.Globally counts records processed in
    # THIS run, healthcare_etl_pipeline.py:351-355): the second run's
    # metric equals its own batch size, while the table itself is
    # append-only (WRITE_APPEND, healthcare_etl_pipeline.py:306) and
    # holds both batches.
    c2 = lh.run_etl(str(raw_dir))["vitals"]
    assert c2 == c1
    assert lh.read_processed("vitals").count() == 2 * c1


def test_bucketed_curated_join_no_exchange(spark, cfg, tmp_path):
    """ROADMAP 5: joins between patient_id-bucketed curated tables
    plan with no Exchange on either side."""
    import contextlib
    import io

    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse

    lh = HealthcareLakehouse(spark, str(tmp_path), cfg)
    v = spark.createDataFrame(
        [("P%03d" % i, 60 + i) for i in range(50)], "patient_id string, heart_rate int"
    )
    c = spark.createDataFrame(
        [("P%03d" % (i % 40), 100.0 * i) for i in range(80)],
        "patient_id string, total_amount double",
    )
    bucketed = lh.materialize_bucketed_staging({"vitals_b": v, "claims_b": c}, num_buckets=8)
    joined = bucketed["vitals_b"].join(bucketed["claims_b"], "patient_id")

    # at test scale the planner would broadcast (hiding the bucketing);
    # disable it to exercise the sort-merge path a 100 TB join takes
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # and the join still answers correctly
        assert joined.count() == 80  # every claim matches exactly one vitals row
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS curated_vitals_b")
    spark.sql("DROP TABLE IF EXISTS curated_claims_b")


def test_snapshot_append_packs_whole_files(spark, tmp_path):
    # Optimization r17 (guide §6, VERDICT r16 item 6): the snapshot
    # append path used to write one part file per upstream task per
    # batch (SnapshotTable._write_data never reshuffles — it also
    # serves layout commits). The caller-side rebalance by event_date
    # packs whole files and tightens per-file min/max pruning stats.
    import glob

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )

    df = spark.range(0, 20000, 1, 32).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01"), (F.col("id") % 5).cast("int")).alias(
            "event_date"
        ),
    )
    st = SnapshotTable(spark, str(tmp_path / "zone"))
    st.commit_append(df.hint("rebalance", "event_date"))
    files = glob.glob(str(tmp_path / "zone" / "data" / "*" / "*.parquet"))
    # 5 dates over 20k rows: a handful of whole files, never the
    # 32-per-batch task count (AQE may split a hot date — allow 2x)
    assert 0 < len(files) <= 10, files
    assert st.read().count() == 20000


def test_run_etl_route_counts_equal_per_route_counts(spark, cfg, tmp_path):
    """run_etl takes every route count from one groupBy over the cached
    enriched frame; each must equal a count() of that route's frame
    over the same batch, unknown included (a data_type outside
    ROUTE_OF_TYPE; malformed JSON is dropped, not counted)."""
    from healthcare_data_lakehouse_using_gcp_spark.operators.etl import build_etl
    from healthcare_data_lakehouse_using_gcp_spark.sources.readers import read_json_batch

    gen = HealthcareDataGenerator(seed=37, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    msgs = gen.generate_messages(300) + [
        '{"data_type": "lab_order", "patient_id": "P1"}',
        '{"patient_id": "P2"}',  # no data_type: routes to unknown
        '{"data_type": "ehr_record", truncated',
    ]
    (raw_dir / "b.json").write_text("\n".join(msgs))

    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    counts = lh.run_etl(str(raw_dir))
    routes = build_etl(read_json_batch(spark, str(raw_dir)), cfg)
    assert counts == {name: df.count() for name, df in routes.items()}
    assert list(counts) == ["vitals", "claims", "ehr", "unknown"]
    assert counts["unknown"] >= 2
    assert spark.read.json(lh.zone_path("errors")).count() == counts["unknown"]


def test_second_dag_run_reuses_generated_classes(spark, cfg, tmp_path):
    """A process that re-runs the DAG (the benchmark, this suite) must
    not recompile its generated code. One run generates ~156 classes; at Spark's default
    codegen cache of 100 entries the LRU evicts them all before the
    next run and every class recompiles. With the cache sized by
    session.get_spark, a second run in a fresh warehouse compiles only
    the few stages AQE renumbers (measured: 10-14, then 0-4)."""
    gen = HealthcareDataGenerator(seed=41, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "b.json").write_text("\n".join(gen.generate_messages(200)))
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled_by_run(wh: str) -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        lh = HealthcareLakehouse(spark, str(tmp_path / wh), cfg)
        lh.run_etl(str(raw_dir), snapshot=True)
        lh.run_models()
        lh.run_reports()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    compiled_by_run("wh1")
    assert compiled_by_run("wh2") <= 16


def test_second_run_models_reuses_expressions(spark, cfg, tmp_path, py4j_calls):
    """The staging, fact and dim plans' Columns are built once per
    config: a second run_models pays the DataFrame operations, writes
    and reads (~500-800 py4j round trips), not the ~6,000 of rebuilding
    every model's expressions through the Column API."""
    gen = HealthcareDataGenerator(seed=43, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "b.json").write_text("\n".join(gen.generate_messages(200)))
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    lh.run_etl(str(raw_dir))
    lh.run_models()
    before = py4j_calls.n
    out = lh.run_models()
    assert py4j_calls.n - before <= 1500
    assert out["fact_patient_encounters"].count() > 0
