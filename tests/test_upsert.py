"""Keyed upsert sink tests: make_etl_sink(mode="upsert") merges each
route into its snapshot table on the natural key. The latest
processed_at wins, replayed batches converge, a stale replay never
overwrites a newer row, and rows outside the batch's keys survive."""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os

import pytest

from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import SnapshotTable
from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink


def _batch(spark, rows):
    """(patient_id, timestamp, heart_rate) rows as raw vitals messages."""
    msgs = [
        json.dumps({
            "patient_id": p, "timestamp": ts, "heart_rate": hr,
            "temperature": 37.0, "data_type": "patient_vitals",
            "ingest_timestamp": ts,
        })
        for p, ts, hr in rows
    ]
    return spark.createDataFrame([(m,) for m in msgs], "value string")


def _sink(wh, cfg, hour):
    """The upsert sink, stamping processed_at 2024-06-01 ``hour``:00."""
    at = dataclasses.replace(cfg, as_of=dt.datetime(2024, 6, 1, hour))
    return make_etl_sink(wh, at, mode="upsert")


def _snapshot(spark, cfg, wh):
    return {
        (r["patient_id"], r["timestamp"]): (r["heart_rate"], r["processed_at"].hour)
        for r in HealthcareLakehouse(spark, wh, cfg).read_processed("vitals").collect()
    }


def test_upsert_latest_version_wins_and_replay_idempotent(spark, cfg, tmp_path):
    wh = str(tmp_path / "wh")
    b1 = _batch(spark, [
        ("P1", "2024-06-01T08:00:00", 70),
        ("P2", "2024-06-01T08:00:00", 80),
        ("P3", "2024-05-31T08:00:00", 90),
    ])
    _sink(wh, cfg, 10)(b1, 0)
    assert len(_snapshot(spark, cfg, wh)) == 3

    # second batch: updates P1 (newer version), adds P4
    b2 = _batch(spark, [
        ("P1", "2024-06-01T08:00:00", 75),
        ("P4", "2024-06-01T08:00:00", 65),
    ])
    _sink(wh, cfg, 11)(b2, 1)
    snap = _snapshot(spark, cfg, wh)
    assert len(snap) == 4
    assert snap[("P1", "2024-06-01T08:00:00")] == (75, 11)  # newer version won
    assert snap[("P2", "2024-06-01T08:00:00")] == (80, 10)  # same-date key kept
    assert snap[("P3", "2024-05-31T08:00:00")] == (90, 10)  # other date kept

    # redelivery under the same batch id: the txn token no-ops
    vit = SnapshotTable(spark, os.path.join(wh, "processed", "vitals"))
    v = vit.latest_version()
    _sink(wh, cfg, 11)(b2, 1)
    assert vit.latest_version() == v

    # REPLAY b2 under a new batch id (at-least-once delivery): the
    # zone must not change
    _sink(wh, cfg, 11)(b2, 2)
    assert _snapshot(spark, cfg, wh) == snap

    # stale replay of b1: older versions must NOT overwrite newer rows
    _sink(wh, cfg, 10)(b1, 3)
    assert _snapshot(spark, cfg, wh) == snap


def test_upsert_rows_outside_batch_keys_survive_merge(spark, cfg, tmp_path):
    """A merge rewrites the files its keys overlap; stored rows in
    those files whose keys the batch does not carry must survive,
    on the batch's event date and on others."""
    wh = str(tmp_path / "wh")
    _sink(wh, cfg, 10)(_batch(spark, [
        ("P1", "2024-05-30T08:00:00", 70),
        ("P2", "2024-06-01T08:00:00", 80),
    ]), 0)
    _sink(wh, cfg, 11)(_batch(spark, [("P3", "2024-06-01T09:00:00", 65)]), 1)
    snap = _snapshot(spark, cfg, wh)
    assert len(snap) == 3
    assert snap[("P1", "2024-05-30T08:00:00")] == (70, 10)
    assert snap[("P2", "2024-06-01T08:00:00")] == (80, 10)
    assert snap[("P3", "2024-06-01T09:00:00")] == (65, 11)


def test_upsert_missing_table_vs_read_error(spark, cfg, tmp_path):
    """A zone with no commits is a first write; an unreadable EXISTING
    zone must raise, never silently replace its rows with the batch."""
    wh = str(tmp_path / "wh")
    b = _batch(spark, [("P1", "2024-06-01T08:00:00", 70)])
    _sink(wh, cfg, 10)(b, 0)  # first write OK

    # corrupt the table: parquet footer unreadable
    for root, _, files in os.walk(os.path.join(wh, "processed", "vitals")):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not parquet at all")
    with pytest.raises(Exception):
        _sink(wh, cfg, 11)(b, 1)


def test_upsert_intra_batch_duplicates_collapse(spark, cfg, tmp_path):
    """Duplicates of one key within a batch share its processed_at;
    the tie-break over the remaining columns keeps exactly one."""
    wh = str(tmp_path / "wh")
    _sink(wh, cfg, 10)(_batch(spark, [
        ("P1", "2024-06-01T08:00:00", 70),
        ("P1", "2024-06-01T08:00:00", 72),
        ("P1", "2024-06-01T08:00:00", 71),
    ]), 0)
    assert _snapshot(spark, cfg, wh) == {("P1", "2024-06-01T08:00:00"): (72, 10)}
    n = HealthcareLakehouse(spark, wh, cfg).read_processed("vitals").count()
    assert n == 1
