"""Streaming tests (T1-T5): file-source incremental feed, foreachBatch
multi-sink, batch/stream parity of the ETL transform (SURVEY.md §5.4)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from healthcare_data_lakehouse_using_gcp_spark.operators.etl import build_etl, parse_envelope
from healthcare_data_lakehouse_using_gcp_spark.sources.generator import HealthcareDataGenerator
from healthcare_data_lakehouse_using_gcp_spark.sources.readers import read_json_stream
from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import windowed_counts


def _write_messages(path, messages, per_file=50):
    import os

    os.makedirs(path, exist_ok=True)
    for i in range(0, len(messages), per_file):
        with open(os.path.join(path, f"drop_{i:05d}.json"), "w") as f:
            f.write("\n".join(messages[i : i + per_file]))


def test_stream_batch_parity(spark, cfg, tmp_path):
    """T4: the same build_etl over readStream == over read."""
    gen = HealthcareDataGenerator(seed=11)
    msgs = gen.generate_messages(150)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _write_messages(inp, msgs)

    # batch reference counts
    batch_routed = build_etl(spark.read.text(inp), cfg)
    batch_counts = {k: batch_routed[k].count() for k in ("vitals", "claims", "ehr", "unknown")}

    # streaming run: same transform via foreachBatch
    seen = {"vitals": 0, "claims": 0, "ehr": 0, "unknown": 0}

    def _sink(bdf, _bid):
        routed = build_etl(bdf, cfg)
        for k in seen:
            seen[k] += routed[k].count()

    q = (
        read_json_stream(spark, inp, max_files_per_trigger=1)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen == batch_counts
    assert seen["vitals"] > 0


def test_windowed_counts_batch_vs_stream(spark, cfg, tmp_path):
    """T1: event-time tumbling windows agree between batch and
    streaming (complete mode) over the same data."""
    gen = HealthcareDataGenerator(seed=13)
    msgs = gen.generate_messages(120, malformed_rate=0.0)
    inp = str(tmp_path / "in2")
    _write_messages(inp, msgs)

    batch = windowed_counts(parse_envelope(spark.read.text(inp), cfg))
    batch_rows = {
        (r["window_start"], r["data_type"]): r["record_count"] for r in batch.collect()
    }

    stream_parsed = parse_envelope(read_json_stream(spark, inp, 1), cfg)
    sq = (
        windowed_counts(stream_parsed)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    stream_rows = {
        (r["window_start"], r["data_type"]): r["record_count"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0


def test_etl_stream_writes_sinks(spark, cfg, tmp_path):
    """T5: multi-sink fan-out commits a snapshot table per entity route."""
    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import start_etl_stream

    gen = HealthcareDataGenerator(seed=17)
    inp = str(tmp_path / "in3")
    wh = str(tmp_path / "wh")
    _write_messages(inp, gen.generate_messages(100))
    q = start_etl_stream(spark, inp, wh, cfg, trigger_seconds=1)
    deadline = time.time() + 120
    while time.time() < deadline:
        if not q.status["isDataAvailable"] and q.recentProgress:
            break
        time.sleep(1)
    q.stop()
    q.awaitTermination(30)
    vit = HealthcareLakehouse(spark, wh, cfg).read_processed("vitals")
    assert vit.count() > 0
    assert "data_quality_score" in vit.columns


def test_unknown_messages_json_roundtrip(spark, cfg):
    """Unknown-type rows keep their envelope for the error sink."""
    msgs = [json.dumps({"data_type": "totally_new", "patient_id": "X", "ingest_timestamp": "2024-06-01T00:00:00"})]
    routed = build_etl(spark.createDataFrame([(m,) for m in msgs], "value string"), cfg)
    row = routed["unknown"].first()
    assert row["data_type"] == "totally_new"


def test_rate_source_mix_ratio(spark, cfg):
    """S8 streaming half: the timed mixed-mode publisher mapping
    (pubsub_publisher.py:219-280) holds its 60/20/10 mix over N ticks
    and produces envelopes that route through build_etl."""
    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.streaming import rate_source

    n = 3000
    ticks = spark.range(n).select(
        F.col("id").alias("value"),
        (F.lit("2024-06-01 12:00:00").cast("timestamp") + F.make_dt_interval(secs=F.col("id"))).alias("timestamp"),
    )
    msgs = rate_source.mix_envelopes(ticks)
    routed = build_etl(msgs, cfg)
    counts = {k: routed[k].count() for k in ("vitals", "claims", "ehr", "unknown")}
    # independent per-tick rolls: expected counts n*p, tolerance ~4 sigma
    assert abs(counts["vitals"] - 0.6 * n) < 4 * (n * 0.6 * 0.4) ** 0.5 + 40
    assert abs(counts["claims"] - 0.2 * n) < 4 * (n * 0.2 * 0.8) ** 0.5 + 40
    assert abs(counts["ehr"] - 0.1 * n) < 4 * (n * 0.1 * 0.9) ** 0.5 + 40
    assert counts["unknown"] == 0
    # envelopes carry ingest_timestamp (publisher attribute parity)
    parsed = parse_envelope(msgs, cfg)
    assert parsed.filter(F.col("ingest_timestamp").isNull()).count() == 0
    # determinism: same ticks -> same messages
    again = {k: v for k, v in counts.items()}
    routed2 = build_etl(rate_source.mix_envelopes(ticks), cfg)
    assert {k: routed2[k].count() for k in again} == again


def test_rate_source_streams_unbounded(spark):
    from healthcare_data_lakehouse_using_gcp_spark.streaming import rate_source

    s = rate_source.mixed_mode_stream(spark)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == ["value"]
    d = rate_source.dedicated_stream(spark, "ehr_record")
    assert d.isStreaming and d.schema.fieldNames() == ["value"]


@pytest.mark.slow  # ~2 min multi-batch kill/replay e2e (round-close battery)
def test_etl_sink_upsert_replay_idempotent(spark, cfg, tmp_path):
    """upsert sink mode: replaying the SAME micro-batch under a new
    batch id (at-least-once delivery) leaves the processed zone
    unchanged."""
    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    gen = HealthcareDataGenerator(seed=23)
    msgs = gen.generate_messages(120)
    batch = spark.createDataFrame([(m,) for m in msgs], "value string")

    wh_up = str(tmp_path / "up")
    lake = HealthcareLakehouse(spark, wh_up, cfg)
    sink = make_etl_sink(wh_up, cfg, mode="upsert")
    sink(batch, 0)
    counts1 = {e: lake.read_processed(e).count() for e in ("vitals", "claims", "ehr")}
    assert all(v > 0 for v in counts1.values())
    sink(batch, 1)  # replay
    counts2 = {e: lake.read_processed(e).count() for e in ("vitals", "claims", "ehr")}
    assert counts2 == counts1


def test_sink_after_run_etl_keeps_both_batches(spark, cfg, tmp_path):
    """run_etl, then the default sink on a second batch into the same
    warehouse: the zone must hold both batches' rows. The sink used to
    write plain parquet next to run_etl's manifest, where no read saw
    it."""
    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    msgs = HealthcareDataGenerator(seed=43).generate_messages(200)
    first = spark.createDataFrame([(m,) for m in msgs[:100]], "value string")
    second = spark.createDataFrame([(m,) for m in msgs[100:]], "value string")
    wh = str(tmp_path / "wh")
    lake = HealthcareLakehouse(spark, wh, cfg)
    c1 = lake.run_etl(raw_df=first)
    make_etl_sink(wh, cfg)(second, 0)
    c2 = {k: df.count() for k, df in build_etl(second, cfg).items()}
    for e in ("vitals", "claims", "ehr"):
        assert lake.read_processed(e).count() == c1[e] + c2[e], e


def test_etl_sink_snapshot_mode_exactly_once_kill_and_replay(spark, cfg, tmp_path):
    """VERDICT r7 item 6: the snapshot sink gives exactly-once ZONE
    writes for keyless appends. foreachBatch's contract on recovery is
    'same batch_id, same data, possibly delivered again' — replaying
    batch 0 (the kill-and-replay path) must no-op via the txn token,
    while a genuinely NEW batch id appends. The lakehouse read side
    resolves the zone through the manifest."""
    import os

    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import SnapshotTable
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    gen = HealthcareDataGenerator(seed=29)
    msgs = gen.generate_messages(120)
    batch0 = spark.createDataFrame([(m,) for m in msgs[:60]], "value string")
    batch1 = spark.createDataFrame([(m,) for m in msgs[60:]], "value string")

    wh = str(tmp_path / "snap")
    sink = make_etl_sink(wh, cfg, mode="snapshot")
    sink(batch0, 0)
    lake = HealthcareLakehouse(spark, wh, cfg)
    counts1 = {e: lake.read_processed(e).count() for e in ("vitals", "claims", "ehr")}
    assert all(v > 0 for v in counts1.values())

    sink(batch0, 0)  # kill-and-replay: same batch id redelivered
    counts2 = {e: lake.read_processed(e).count() for e in ("vitals", "claims", "ehr")}
    assert counts2 == counts1, "replayed micro-batch must not duplicate rows"
    # the no-op is a txn match, not a silent drop: version count unchanged
    vit = SnapshotTable(spark, os.path.join(wh, "processed", "vitals"))
    assert vit.latest_version() == 1

    sink(batch1, 1)  # a real new batch appends
    counts3 = {e: lake.read_processed(e).count() for e in ("vitals", "claims", "ehr")}
    assert sum(counts3.values()) > sum(counts1.values())
    assert vit.latest_version() == 2


def test_lakehouse_run_etl_txn_id_replay_converges(spark, cfg, tmp_path):
    """Batch-mode twin of the snapshot sink: run_etl(txn_id=...) must
    make an orchestrator retry of the same batch converge, and the
    model DAG must build the curated fact from the snapshot-resolved
    zones with no duplicate encounters."""
    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse

    gen = HealthcareDataGenerator(seed=31)
    msgs = gen.generate_messages(150)
    raw = spark.createDataFrame([(m,) for m in msgs], "value string")

    wh = str(tmp_path / "wh")
    lake = HealthcareLakehouse(spark, wh, cfg)
    c1 = lake.run_etl(raw_df=raw, txn_id="load-2024-06-01")
    c2 = lake.run_etl(raw_df=raw, txn_id="load-2024-06-01")  # retry
    assert c1 == c2  # run-scoped counts identical
    for e in ("vitals", "claims", "ehr"):
        assert lake.read_processed(e).count() == c1[e], e
    # downstream models consume the snapshot zones transparently
    frames = lake.run_models()
    fact = frames["fact_patient_encounters"]
    assert fact.count() == fact.dropDuplicates().count()


def test_rollup_sink_state_converges_under_replay(spark, tmp_path):
    """make_rollup_sink: the streaming incremental-rollup state must
    equal the from-scratch aggregate after N batches, stay unchanged
    when any batch replays (exactly-once via the snapshot txn token),
    and keep the approximate-distinct sketch un-double-counted."""
    from healthcare_data_lakehouse_using_gcp_spark.operators.incremental import (
        finalize_rollup,
    )
    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        make_rollup_sink,
    )

    all_rows = [(f"k{i % 2}", float(i), f"u{i % 25}") for i in range(300)]
    df = spark.createDataFrame(all_rows, "k string, v double, u string")
    batches = [df.filter(f"v >= {i * 100} and v < {(i + 1) * 100}") for i in range(3)]

    root = str(tmp_path / "rollup_state")
    sink = make_rollup_sink(root, ["k"], ["v"], distinct_cols=["u"])
    sink(batches[0], 0)
    sink(batches[1], 1)
    sink(batches[1], 1)  # kill-and-replay of batch 1
    sink(batches[2], 2)
    sink(batches[0], 0)  # very late redelivery of an old batch

    st = SnapshotTable(spark, root)
    assert st.latest_version() == 3  # three real commits, two no-ops
    got = {
        r["k"]: (r["n"], r["v_sum"], r["u_approx_distinct"])
        for r in finalize_rollup(
            st.read(), ["k"], ["v"], distinct_cols=["u"]
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["d"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").alias("s"),
            F.countDistinct("u").alias("d"),
        )
        .collect()
    }
    for k in want:
        n, s, d = want[k]
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(s)
        assert abs(got[k][2] - d) <= max(2, 0.05 * d)


def test_sharded_rollup_sink_touches_only_delta_shards(spark, tmp_path):
    """Sharded state: a batch rewrites only the shards its keys hash
    into (untouched shards keep their version), mid-loop replays
    converge per shard, and the unioned state finalizes to the
    from-scratch aggregate."""
    import os

    from healthcare_data_lakehouse_using_gcp_spark.operators.incremental import (
        finalize_rollup,
    )
    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        make_sharded_rollup_sink,
        read_sharded_rollup_state,
    )

    df = spark.createDataFrame(
        [(f"k{i % 8}", float(i)) for i in range(240)], "k string, v double"
    )
    b0 = df.filter("v < 120")  # all 8 keys
    b1 = df.filter("v >= 120 and k in ('k0', 'k1')")  # 2 keys only

    root = str(tmp_path / "sharded")
    sink = make_sharded_rollup_sink(root, ["k"], ["v"], n_shards=8)
    sink(b0, 0)
    versions_after_b0 = {
        d: SnapshotTable(spark, os.path.join(root, d)).latest_version()
        for d in os.listdir(root)
        if d.startswith("shard=")
    }
    sink(b1, 1)
    sink(b1, 1)  # replay
    bumped = 0
    for d, v0 in versions_after_b0.items():
        v1 = SnapshotTable(spark, os.path.join(root, d)).latest_version()
        assert v1 in (v0, v0 + 1)  # replay never double-bumps
        bumped += v1 - v0
    # k0/k1 hash into at most 2 distinct shards; the rest untouched
    assert 1 <= bumped <= 2

    got = {
        r["k"]: (r["n"], r["v_sum"])
        for r in finalize_rollup(
            read_sharded_rollup_state(spark, root), ["k"], ["v"]
        ).collect()
    }
    delivered = b0.unionByName(b1)
    want = {
        r["k"]: (r["n"], r["s"])
        for r in delivered.groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1])


def test_dedup_stream_across_microbatches(spark, cfg, tmp_path):
    """Streaming exact dedup: redelivered ids in LATER micro-batches
    are dropped (state persists across batches, bounded by the
    watermark); batch fallback dedups identically."""
    import os

    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import dedup_stream

    inp = str(tmp_path / "dd_in")
    os.makedirs(inp)
    base = "2024-06-01T10:{m:02d}:00"

    def msg(cid, minute):
        return json.dumps(
            {
                "data_type": "claim",
                "claim_id": cid,
                "patient_id": "P1",
                "ingest_timestamp": base.format(m=minute),
            }
        )

    # batch 1: C1, C2; batch 2 (later mtime): C2 redelivered + C3
    with open(os.path.join(inp, "b1.json"), "w") as f:
        f.write("\n".join([msg("C1", 0), msg("C2", 1)]))
    time.sleep(2)  # distinct mtime => deterministic batch order
    with open(os.path.join(inp, "b2.json"), "w") as f:
        f.write("\n".join([msg("C2", 2), msg("C3", 3)]))

    parsed = parse_envelope(read_json_stream(spark, inp, 1), cfg)
    deduped = dedup_stream(parsed, ["claim_id"], watermark_seconds=3600)
    sq = (
        deduped.selectExpr("claim_id")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    got = sorted(r["claim_id"] for r in spark.sql("select * from dd_out").collect())
    assert got == ["C1", "C2", "C3"]  # C2 exactly once

    batch = dedup_stream(parse_envelope(spark.read.text(inp), cfg), ["claim_id"])
    assert batch.select("claim_id").distinct().count() == batch.count() == 3


def test_stream_stream_band_join(spark, tmp_path):
    """Stream-stream equi+band join emits exactly the in-band pairs
    and agrees with the same plan run in batch mode."""
    import os

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        stream_stream_band_join,
    )

    vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
    os.makedirs(vdir)
    os.makedirs(cdir)
    with open(os.path.join(vdir, "v.json"), "w") as f:
        f.write(
            "\n".join(
                [
                    json.dumps({"patient_id": "P1", "v_ts": "2024-06-01T10:00:00", "hr": 72}),
                    json.dumps({"patient_id": "P2", "v_ts": "2024-06-01T10:05:00", "hr": 90}),
                ]
            )
        )
    with open(os.path.join(cdir, "c.json"), "w") as f:
        f.write(
            "\n".join(
                [
                    # in band (same patient, 30 min earlier)
                    json.dumps({"patient_id": "P1", "c_ts": "2024-06-01T09:30:00", "claim": "C1"}),
                    # out of band (same patient, 2 days earlier; band = 1 h)
                    json.dumps({"patient_id": "P1", "c_ts": "2024-05-30T10:00:00", "claim": "C2"}),
                    # different patient
                    json.dumps({"patient_id": "P3", "c_ts": "2024-06-01T10:00:00", "claim": "C3"}),
                ]
            )
        )
    v_schema = "patient_id string, v_ts string, hr bigint"
    c_schema = "patient_id string, c_ts string, claim string"

    def _prep(df, ts):
        return df.withColumn(ts, F.to_timestamp(ts))

    vs = _prep(spark.readStream.schema(v_schema).json(vdir), "v_ts")
    cs = _prep(spark.readStream.schema(c_schema).json(cdir), "c_ts").withColumnRenamed(
        "patient_id", "c_patient_id"
    )
    joined = stream_stream_band_join(
        vs, cs.withColumnRenamed("c_patient_id", "patient_id"), "patient_id",
        "v_ts", "c_ts", band_seconds=3600,
    ).select(vs["patient_id"], "hr", "claim")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["patient_id"], r["claim"]) for r in spark.sql("select * from ssj_out").collect()}
    assert got == {("P1", "C1")}

    # batch parity: identical plan over bounded reads
    vb = _prep(spark.read.schema(v_schema).json(vdir), "v_ts")
    cb = _prep(spark.read.schema(c_schema).json(cdir), "c_ts")
    batch = stream_stream_band_join(vb, cb, "patient_id", "v_ts", "c_ts", band_seconds=3600)
    assert {(r["claim"]) for r in batch.select("claim").collect()} == {"C1"}


def test_session_window_counts_streaming_mode(spark, tmp_path):
    """Native session windows run as a streaming aggregation: events
    land in merged sessions once the watermark lets them finalize, and
    the complete-mode output matches the batch run of the same
    transform."""
    import os

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        session_window_counts,
    )

    d = str(tmp_path / "sw")
    os.makedirs(d)
    rows = [
        {"user_id": 1, "event_id": 1, "ts": "2024-06-01T10:00:00"},
        {"user_id": 1, "event_id": 2, "ts": "2024-06-01T10:10:00"},  # merges
        {"user_id": 1, "event_id": 3, "ts": "2024-06-01T12:00:00"},  # new session
        {"user_id": 2, "event_id": 4, "ts": "2024-06-01T11:00:00"},
    ]
    with open(os.path.join(d, "e.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    schema = "user_id bigint, event_id bigint, ts string"

    stream = spark.readStream.schema(schema).json(d)
    out = session_window_counts(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sw_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"], r["duration_s"])
        for r in spark.sql("select * from sw_out").collect()
    }
    batch = session_window_counts(
        spark.read.schema(schema).json(d), gap_seconds=1800
    )
    want = {
        (r["user_id"], r["n_events"], r["duration_s"]) for r in batch.collect()
    }
    assert got == want
    assert (1, 2, 600 + 1800) in got  # 10-min span + closing gap


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: each micro-batch enriches against a static
    dimension (broadcast per batch, no streaming state) — the standard
    dim-enrichment pattern; streaming result equals the batch run."""
    import os

    from pyspark.sql import functions as F

    d = str(tmp_path / "ss")
    os.makedirs(d)
    rows = [
        {"event_id": 1, "user_id": 10, "v": 1.5},
        {"event_id": 2, "user_id": 20, "v": 2.5},
        {"event_id": 3, "user_id": 99, "v": 9.9},  # no dim row
    ]
    with open(os.path.join(d, "e.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    schema = "event_id bigint, user_id bigint, v double"
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id bigint, tier string"
    )

    def enrich(df):
        return df.join(F.broadcast(dim), "user_id", "left").select(
            "event_id", "user_id", "tier"
        )

    q = (
        enrich(spark.readStream.schema(schema).json(d))
        .writeStream.format("memory")
        .queryName("sse_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["tier"])
        for r in spark.sql("select * from sse_out").collect()
    }
    want = {
        (r["event_id"], r["tier"])
        for r in enrich(spark.read.schema(schema).json(d)).collect()
    }
    assert got == want == {(1, "gold"), (2, "silver"), (3, None)}


def test_hopping_window_overlap_and_stream_parity(spark, tmp_path):
    import os

    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        hopping_window_counts,
    )

    d = str(tmp_path / "hop")
    os.makedirs(d)
    rows = [
        {"event_type": "a", "ts": "2024-06-01T10:01:00"},
        {"event_type": "a", "ts": "2024-06-01T10:06:00"},
    ]
    with open(os.path.join(d, "e.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    schema = "event_type string, ts string"
    batch = hopping_window_counts(
        spark.read.schema(schema).json(d), window_seconds=600, slide_seconds=300
    )
    got = {(str(r["window_start"]), r["n"]) for r in batch.collect()}
    # event 1 (10:01) ∈ [09:55,10:05) and [10:00,10:10);
    # event 2 (10:06) ∈ [10:00,10:10) and [10:05,10:15)
    assert got == {
        ("2024-06-01 09:55:00", 1),
        ("2024-06-01 10:00:00", 2),
        ("2024-06-01 10:05:00", 1),
    }
    q = (
        hopping_window_counts(
            spark.readStream.schema(schema).json(d),
            window_seconds=600, slide_seconds=300,
        )
        .writeStream.format("memory").queryName("hop_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    stream = {
        (str(r["window_start"]), r["n"])
        for r in spark.sql("select * from hop_out").collect()
    }
    assert stream == got


def test_join_view_sink_maintains_materialized_join(spark, tmp_path):
    """make_join_view_sink: after N batches (with a replay), the
    consolidated view equals the batch join of everything delivered;
    a CDC batch with a -1 weight retracts its join outputs; and
    consolidate_join_view folds the delta chain without changing the
    read."""
    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        consolidate_join_view,
        make_join_view_sink,
        read_join_view,
    )

    dim = spark.createDataFrame(
        [(1, "X"), (2, "Y"), (3, "Z")], "k bigint, dv string"
    )
    root = str(tmp_path / "join_view")
    sink = make_join_view_sink(root, dim, on=["k"])
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, rv string")
    b1 = spark.createDataFrame([(3, "c"), (9, "nomatch")], "k bigint, rv string")
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay: must no-op on the txn token
    view = {tuple(r) for r in read_join_view(spark, root).collect()}
    assert view == {
        (1, "a", "X", 1),
        (2, "b", "Y", 1),
        (3, "c", "Z", 1),
    }  # the unmatched row joins nothing; the replay added nothing

    # CDC retraction batch: remove (1, a)
    cdc_sink = make_join_view_sink(root, dim, on=["k"], weight_col="w")
    retract = spark.createDataFrame([(1, "a", -1)], "k bigint, rv string, w int")
    cdc_sink(retract, 2)
    view2 = {tuple(r) for r in read_join_view(spark, root).collect()}
    assert view2 == {(2, "b", "Y", 1), (3, "c", "Z", 1)}

    v_before = SnapshotTable(spark, root).latest_version()
    consolidate_join_view(spark, root)
    st = SnapshotTable(spark, root)
    assert st.latest_version() == v_before + 1
    assert {tuple(r) for r in read_join_view(spark, root).collect()} == view2
    # consolidation really shrank the stored row set: the folded table
    # no longer carries the (1, a, X) +1/-1 pair
    assert st.read().count() == 2


def test_lakehouse_run_etl_snapshot_without_txn(spark, cfg, tmp_path):
    """run_etl with NO txn token still commits the entity zones
    through manifests; a re-run appends a second version (no replay
    protection without a token). No other zone format exists, so
    snapshot=False is an error."""
    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import (
        HealthcareLakehouse,
    )
    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )

    gen = HealthcareDataGenerator(seed=37)
    raw = spark.createDataFrame(
        [(m,) for m in gen.generate_messages(120)], "value string"
    )
    wh = str(tmp_path / "wh")
    lake = HealthcareLakehouse(spark, wh, cfg)
    c1 = lake.run_etl(raw_df=raw, snapshot=True)
    vit = SnapshotTable(spark, str(tmp_path / "wh" / "processed" / "vitals"))
    assert vit.latest_version() == 1
    assert lake.read_processed("vitals").count() == c1["vitals"]
    # no token => a deliberate re-run is a second append version
    lake.run_etl(raw_df=raw, snapshot=True)
    assert vit.latest_version() == 2
    assert lake.read_processed("vitals").count() == 2 * c1["vitals"]
    # models build from manifest-resolved zones transparently
    fact = lake.run_models()["fact_patient_encounters"]
    assert fact.count() > 0
    with pytest.raises(ValueError, match="snapshot must be True"):
        lake.run_etl(raw_df=raw, snapshot=False)
    assert vit.latest_version() == 2
