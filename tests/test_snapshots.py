"""Snapshot-versioned table tests: atomic commits, time travel,
rollback, exactly-once replay, vacuum safety (sources/snapshots.py)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import SnapshotTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, pairs):
    return spark.createDataFrame(pairs, "id bigint, v string")


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def test_append_and_read_latest(spark, table):
    v1 = table.commit_append(_mk(spark, [(1, "a"), (2, "b")]))
    assert v1 == 1
    v2 = table.commit_append(_mk(spark, [(3, "c")]))
    assert v2 == 2
    assert _rows(table.read()) == [(1, "a"), (2, "b"), (3, "c")]


def test_time_travel_by_version(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    table.commit_overwrite(_mk(spark, [(9, "z")]))
    assert _rows(table.read(version=1)) == [(1, "a")]
    assert _rows(table.read(version=2)) == [(9, "z")]
    assert _rows(table.read()) == [(9, "z")]


def test_time_travel_as_of_timestamp(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    t_between = time.time()
    time.sleep(0.01)
    table.commit_append(_mk(spark, [(2, "b")]))
    assert _rows(table.read(as_of=t_between)) == [(1, "a")]
    assert _rows(table.read(as_of=time.time())) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="no snapshot committed"):
        table.read(as_of=t_between - 1000)


def test_rollback_is_non_destructive(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    table.commit_overwrite(_mk(spark, [(9, "z")]))
    v3 = table.rollback(1)
    assert v3 == 3
    assert _rows(table.read()) == [(1, "a")]
    # the bad overwrite is still readable — rollback adds history
    assert _rows(table.read(version=2)) == [(9, "z")]
    assert [h["operation"] for h in table.history()] == [
        "append",
        "overwrite",
        "rollback",
    ]


def test_txn_id_replay_is_exactly_once(spark, table):
    batch = _mk(spark, [(1, "a"), (2, "b")])
    v1 = table.commit_append(batch, txn_id="batch-0")
    v_dup = table.commit_append(batch, txn_id="batch-0")  # redelivery
    assert v_dup == v1
    assert table.latest_version() == v1
    assert _rows(table.read()) == [(1, "a"), (2, "b")]
    # a NEW token commits normally
    assert table.commit_append(_mk(spark, [(3, "c")]), txn_id="batch-1") == v1 + 1


def test_append_schema_mismatch_raises(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    bad = spark.createDataFrame([(1.5, "a")], "id double, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        table.commit_append(bad)
    # overwrite may change the schema
    assert table.commit_overwrite(bad) == 2


def test_reader_never_sees_unpublished_files(spark, table, tmp_path):
    table.commit_append(_mk(spark, [(1, "a")]))
    # simulate an in-flight commit: data files exist, no manifest yet
    orphan_dir = os.path.join(table.root, "data", "inflight00")
    _mk(spark, [(99, "ghost")]).write.parquet(orphan_dir)
    assert _rows(table.read()) == [(1, "a")]  # snapshot isolation


def test_vacuum_keeps_referenced_deletes_expired(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    table.commit_overwrite(_mk(spark, [(2, "b")]))
    # explicit min_age_seconds=0: the DEFAULT is a 1-hour grace window
    # (ADVICE r7) so a vacuum can't race an in-flight commit; tests are
    # single-writer so they opt out
    deleted = table.vacuum(keep_last=1, min_age_seconds=0)
    assert deleted, "the overwritten v1 files should be removed"
    assert _rows(table.read()) == [(2, "b")]
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        table.read(version=1)


def test_vacuum_append_chain_shares_files(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    table.commit_append(_mk(spark, [(2, "b")]))
    # v2 references v1's files too: nothing is deletable
    assert table.vacuum(keep_last=1, min_age_seconds=0) == []
    assert _rows(table.read()) == [(1, "a"), (2, "b")]


def test_vacuum_min_age_protects_inflight(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    orphan_dir = os.path.join(table.root, "data", "inflight11")
    _mk(spark, [(99, "ghost")]).write.parquet(orphan_dir)
    assert table.vacuum(keep_last=1, min_age_seconds=3600) == []
    removed = table.vacuum(keep_last=1, min_age_seconds=0)
    assert removed and all(r.startswith("data/inflight11") for r in removed)


def test_manifest_file_skipping_prunes_without_opening_files(spark, table):
    """r8: per-file [min, max] recorded at commit time enable
    Iceberg-style file skipping — a range predicate drops whole
    commits' files driver-side (zero footer opens at read), while
    pruned + filter stays row-identical to full-scan + filter."""
    for lo in (0, 100, 200):
        table.commit_append(_mk(spark, [(lo + i, f"x{lo + i:03d}") for i in range(10)]))
    v = table.latest_version()
    keep, total = table.prune_files(v, ("id", ">=", 200))
    assert total >= 3 and 0 < len(keep) < total
    pruned = table.read(prune=("id", ">=", 200))
    assert len(pruned.inputFiles()) == len(keep)
    got = sorted(map(tuple, pruned.filter("id >= 200").collect()))
    want = sorted(map(tuple, table.read().filter("id >= 200").collect()))
    assert got == want and len(got) == 10
    # string stats prune too, and an impossible predicate empties the scan
    keep_s, _ = table.prune_files(v, ("v", "==", "x000"))
    assert 0 < len(keep_s) < total
    assert table.read(prune=("id", ">", 10_000)).count() == 0
    # stats survive append chains and rollback
    table.rollback(v)
    keep2, total2 = table.prune_files(table.latest_version(), ("id", ">=", 200))
    assert (len(keep2), total2) == (len(keep), total)
    with pytest.raises(ValueError, match="unsupported prune op"):
        table.prune_files(v, ("id", "!=", 5))


def test_merge_schema_appends_additive_column(spark, table):
    """Additive schema evolution: a batch may ADD columns
    (merge_schema=True) — old rows read NULL for them from the new
    version on, time travel keeps the old schema, and drops/retypes
    stay errors."""
    table.commit_append(_mk(spark, [(1, "a")]))
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, v string, score double"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        table.commit_append(wide)
    v2 = table.commit_append(wide, merge_schema=True)
    got = {r["id"]: (r["v"], r["score"]) for r in table.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    # time travel: v1 still reads with the ORIGINAL two-column schema
    assert table.read(version=v2 - 1).columns == ["id", "v"]
    # drops/retypes rejected even under merge_schema
    dropped = spark.createDataFrame([(3,)], "id bigint")
    with pytest.raises(ValueError, match="drops or retypes"):
        table.commit_append(dropped, merge_schema=True)
    retyped = spark.createDataFrame([(4, 5)], "id bigint, v int")
    with pytest.raises(ValueError, match="drops or retypes"):
        table.commit_append(retyped, merge_schema=True)


def test_merge_upsert_rewrites_only_overlapping_files(spark, table):
    """r8 copy-on-write MERGE: a keyed batch replaces matching rows
    and appends new keys in ONE atomic version, rewriting only the
    files whose stats overlap the batch's key envelope — files
    outside the range carry into the new manifest byte-identical."""
    for lo in (0, 100, 200):
        table.commit_append(
            _mk(spark, [(lo + i, f"old{lo + i}") for i in range(10)])
        )
    v = table.latest_version()
    files_before = table._load(v)["files"]

    batch = _mk(spark, [(200, "NEW200"), (205, "NEW205"), (999, "NEW999")])
    v2 = table.merge_upsert(batch, ["id"], txn_id="cdc-1")
    assert v2 == v + 1
    m2 = table._load(v2)
    assert m2["operation"] == "merge"
    carried = [f for f in m2["files"] if f in files_before]
    # the 0-99 and 100-109 commits' files are untouched; only the
    # 200-range files were rewritten
    lo_files = [f for f in files_before if f in carried]
    assert len(carried) >= 1 and len(carried) < len(files_before)
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got[200] == "NEW200" and got[205] == "NEW205" and got[999] == "NEW999"
    assert got[201] == "old201"  # same-file neighbors survive the rewrite
    assert got[0] == "old0" and len(got) == 31  # 30 originals + 1 new key
    # time travel: pre-merge version still shows the old values
    assert {r["id"]: r["v"] for r in table.read(version=v).collect()}[200] == "old200"
    # txn replay no-ops
    assert table.merge_upsert(batch, ["id"], txn_id="cdc-1") == v2
    assert table.latest_version() == v2
    # merge into an empty table is a plain first commit
    import os as _os
    import tempfile as _tf

    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )

    t2 = SnapshotTable(spark, _os.path.join(_tf.mkdtemp(), "t2"))
    assert t2.merge_upsert(batch, ["id"]) == 1
    assert t2.read().count() == 3


def test_delete_where_erases_rows_with_pruned_rewrite(spark, table):
    """r8 copy-on-write DELETE: predicate rows disappear atomically,
    non-overlapping files carry byte-identical, stats-proven-clean
    predicates no-op, prior versions retain the rows until vacuum —
    the right-to-erasure flow end to end."""
    for lo in (0, 100, 200):
        table.commit_append(_mk(spark, [(lo + i, f"v{lo + i}") for i in range(10)]))
    v = table.latest_version()
    files_before = table._load(v)["files"]

    v2 = table.delete_where(("id", ">=", 205), txn_id="erase-1")
    assert v2 == v + 1
    m2 = table._load(v2)
    assert m2["operation"] == "delete"
    carried = [f for f in m2["files"] if f in set(files_before)]
    assert len(carried) >= 1  # 0- and 100-range files untouched
    ids = sorted(r["id"] for r in table.read().collect())
    assert ids == list(range(0, 10)) + list(range(100, 110)) + [200, 201, 202, 203, 204]
    # history keeps the rows until vacuumed (then hard-erased)
    assert table.read(version=v).filter("id >= 205").count() == 5
    table.vacuum(keep_last=1, min_age_seconds=0)
    with pytest.raises(ValueError):
        table.read(version=v)
    # replay + stats-proven no-op
    assert table.delete_where(("id", ">=", 205), txn_id="erase-1") == v2
    assert table.delete_where(("id", ">", 99_999)) == v2
    # string equality delete
    v3 = table.delete_where(("v", "==", "v0"))
    assert v3 > v2
    assert table.read().filter("id = 0").count() == 0
    assert table.read().count() == 24


def test_compact_rewrites_small_files_transactionally(spark, table):
    """compact() folds an append-heavy zone's many small file groups
    into one new snapshot: same rows, fewer files, prior versions
    still time-travelable, and the small files reclaimable by vacuum
    afterwards."""
    for i in range(4):
        table.commit_append(_mk(spark, [(i, f"r{i}")]))
    v4 = table.latest_version()
    files_before = len(table._load(v4)["files"])
    assert files_before >= 4
    rows_before = _rows(table.read())

    v5 = table.compact(target_file_bytes=1 << 30)  # everything into one file
    assert v5 == v4 + 1
    m = table._load(v5)
    assert m["operation"] == "compact"
    assert len(m["files"]) < files_before
    assert _rows(table.read()) == rows_before
    assert _rows(table.read(version=v4)) == rows_before  # time travel intact

    # idempotent under txn replay, and a no-op when already compact
    assert table.compact(target_file_bytes=1 << 30) == v5
    # vacuum reclaims the compacted-away small files
    deleted = table.vacuum(keep_last=1, min_age_seconds=0)
    assert len(deleted) >= files_before
    assert _rows(table.read()) == rows_before


def test_sorted_compaction_restores_file_skipping(spark, table):
    """Interleaved appends give every file a full-range [min, max], so
    pruning keeps everything; compact(sort_by=...) re-clusters into
    disjoint ranges and the same predicate then skips most files."""
    import random

    rng = random.Random(5)
    ids = list(range(400))
    rng.shuffle(ids)
    for c in range(4):  # each commit spans the whole id range
        table.commit_append(
            _mk(spark, [(i, f"v{i}") for i in ids[c * 100 : (c + 1) * 100]])
        )
    v = table.latest_version()
    keep_before, total_before = table.prune_files(v, ("id", ">=", 300))
    frac_before = len(keep_before) / total_before

    # a quarter of the table's own bytes: the sorted rewrite lands in
    # ~4 files whatever file count the appends produced on this host
    n_bytes = sum(
        os.path.getsize(os.path.join(table.root, f))
        for f in table._load(v)["files"]
    )
    v2 = table.compact(target_file_bytes=n_bytes // 4, sort_by=["id"])
    assert v2 > v
    keep_after, total_after = table.prune_files(v2, ("id", ">=", 300))
    assert total_after > 1
    frac_after = len(keep_after) / total_after
    # sorted layout: only the top-quarter range's files survive the
    # predicate, far fewer (proportionally) than the shuffled layout
    assert frac_after < frac_before
    assert frac_after <= 0.5
    got = sorted(
        r["id"] for r in table.read(prune=("id", ">=", 300)).filter("id >= 300").collect()
    )
    assert got == list(range(300, 400))


def test_compact_empty_table_raises(spark, table):
    with pytest.raises(ValueError, match="nothing to compact"):
        table.compact()


def test_vacuum_default_is_grace_window(spark, table):
    """ADVICE r7: the DEFAULT vacuum must not delete freshly-written
    unreferenced files — a concurrent commit's data lands before its
    manifest, and a zero-grace default would eat it."""
    table.commit_append(_mk(spark, [(1, "a")]))
    orphan_dir = os.path.join(table.root, "data", "inflight22")
    _mk(spark, [(99, "ghost")]).write.parquet(orphan_dir)
    assert table.vacuum(keep_last=1) == []  # default grace protects it
    assert os.path.isdir(orphan_dir)


def test_write_and_vacuum_clean_checksum_dotfiles(spark, table):
    """ADVICE r7: Hadoop LocalFS writes .part-*.parquet.crc dotfiles
    that glob('*') never matches. Commit cleanup must remove them, and
    vacuum must delete them from foreign dirs so emptied commit dirs
    actually rmdir."""
    table.commit_append(_mk(spark, [(1, "a")]))
    data_root = os.path.join(table.root, "data")
    for d in os.listdir(data_root):
        hidden = [
            n for n in os.listdir(os.path.join(data_root, d)) if n.startswith(".")
        ]
        assert not hidden, f"checksum dotfiles survived commit cleanup: {hidden}"
    # a torn write with dotfiles: vacuum at zero grace must empty+rmdir it
    orphan_dir = os.path.join(data_root, "inflight33")
    _mk(spark, [(99, "ghost")]).write.parquet(orphan_dir)
    assert any(n.startswith(".") for n in os.listdir(orphan_dir))
    table.vacuum(keep_last=1, min_age_seconds=0)
    assert not os.path.exists(orphan_dir)


def test_concurrent_commit_conflict_retries(spark, table):
    """Two committers racing for the same version number: the loser's
    os.link hits EEXIST and must retry to the NEXT version with both
    contents retained (no lost update)."""
    table.commit_append(_mk(spark, [(1, "a")]))
    inner = SnapshotTable(spark, table.root)
    real_latest = inner.latest_version
    fired = {"done": False}

    def stale_latest():
        v = real_latest()
        if not fired["done"]:
            # rival lands AFTER we read latest → our v2 link collides
            fired["done"] = True
            table.commit_append(_mk(spark, [(50, "rival")]))
        return v

    inner.latest_version = stale_latest
    v = inner.commit_append(_mk(spark, [(2, "b")]))
    assert v == 3  # first attempt targeted v2, lost, retried to v3
    assert _rows(inner.read()) == [(1, "a"), (2, "b"), (50, "rival")]


def test_txn_recheck_under_race(spark, table):
    """A same-txn rival landing mid-commit must not duplicate rows."""
    batch = _mk(spark, [(1, "a")])
    table.commit_append(_mk(spark, [(0, "seed")]))
    inner = SnapshotTable(spark, table.root)
    real_publish = inner._publish
    fired = {"done": False}

    def racing_publish(mk):
        if not fired["done"]:
            fired["done"] = True
            table.commit_append(batch, txn_id="batch-7")
        return real_publish(mk)

    inner._publish = racing_publish
    v = inner.commit_append(batch, txn_id="batch-7")
    assert v == table._txn_version("batch-7")
    assert _rows(inner.read()) == [(0, "seed"), (1, "a")]


def test_empty_table_and_empty_overwrite(spark, table):
    with pytest.raises(ValueError, match="empty table"):
        table.read()
    table.commit_append(_mk(spark, [(1, "a")]))
    empty = spark.createDataFrame([], "id bigint, v string")
    table.commit_overwrite(empty)
    got = table.read()
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "v"]


def test_never_written_table_creates_no_directories(spark, tmp_path):
    """Opening or reading a table that was never committed leaves the
    file system untouched: read_processed on a never-written zone
    raises ValueError and creates no directory. The metadata calls
    work on the absent table, and the first commit creates it."""
    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse

    wh = tmp_path / "wh"
    with pytest.raises(ValueError, match="empty table"):
        HealthcareLakehouse(spark, str(wh)).read_processed("vitals")
    assert not wh.exists()
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    assert table.versions() == [] and table.latest_version() == 0
    assert table.tags() == {} and table.history() == []
    assert table.vacuum(min_age_seconds=0) == []
    assert not (tmp_path / "tbl").exists()
    assert table.commit_append(_mk(spark, [(1, "a")])) == 1
    assert _rows(table.read()) == [(1, "a")]


def test_history_and_manifest_shape(spark, table):
    table.commit_append(_mk(spark, [(1, "a"), (2, "b")]), txn_id="t1")
    h = table.history()
    assert len(h) == 1
    assert h[0]["operation"] == "append"
    assert h[0]["txn_id"] == "t1"
    assert h[0]["n_rows"] == 2
    assert h[0]["parent"] == 0
    with open(table._manifest_path(1)) as f:
        m = json.load(f)
    assert m["files"] and all(f_.startswith("data/") for f_ in m["files"])

    # every operation writes the same manifest keys (rollback adds the
    # version it restores); time travel and the benchmark's per-commit
    # file accounting read exactly these
    for lo in (100, 200):
        table.commit_append(_mk(spark, [(lo + i, f"v{lo + i}") for i in range(5)]))
    pre_merge = table._load(table.latest_version())
    table.merge_upsert(_mk(spark, [(202, "B")]), ["id"])
    table.delete_where(("id", "==", 201))
    table.compact(target_file_bytes=1 << 30)
    table.commit_overwrite(_mk(spark, [(7, "w")]))
    table.rollback(2)
    keys = {
        "version", "parent", "operation", "committed_at", "txn_id", "files",
        "file_stats", "file_blooms", "n_rows", "schema", "schema_key",
    }
    ops = []
    for v in table.versions():
        mv = table._load(v)
        ops.append(mv["operation"])
        extra = {"rollback_of"} if mv["operation"] == "rollback" else set()
        assert set(mv) == keys | extra, mv["operation"]
        assert (mv["version"], mv["parent"]) == (v, v - 1)
    assert ops == [
        "append", "append", "append", "merge", "delete", "compact",
        "overwrite", "rollback",
    ]
    assert table._load(8)["rollback_of"] == 2
    # a merge carries the files it does not touch byte-for-byte,
    # stats included: the 200-range batch leaves v1's and v2's files
    merged = table._load(4)
    untouched = [f for f in pre_merge["files"] if f in merged["files"]]
    assert untouched and merged["files"][: len(untouched)] == untouched
    assert {f: merged["file_stats"][f] for f in untouched} == {
        f: pre_merge["file_stats"][f] for f in untouched
    }
    assert merged["schema"] == pre_merge["schema"]


def test_merge_on_empty_table_rebases_on_concurrent_first_append(spark, table):
    """A merge that starts on an empty table read NO files; a first
    append landing before it publishes must survive, not be dropped
    from the merge's manifest (lost update)."""
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim, lambda: table.commit_append(_mk(spark, [(50, "rival")]))
    )
    victim.merge_upsert(_mk(spark, [(2, "B2")]), ["id"])
    assert _rows(table.read()) == [(2, "B2"), (50, "rival")]


def test_foreachbatch_exactly_once_sink(spark, tmp_path):
    """A Structured Streaming foreachBatch sink writing with
    txn_id=batch_id: restarting the query from the same checkpoint
    replays the last batch, and the table must converge instead of
    duplicating (the BigQuery-WRITE_APPEND failure mode upsert-less
    pipelines hit on redelivery)."""
    import json as _json
    import os
    import shutil

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "a.json", "w") as f:
        f.write("\n".join(_json.dumps({"k": i}) for i in range(40)))

    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema("k bigint").json(str(src))
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: table.commit_append(df, txn_id=f"batch-{bid}")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert table.read().count() == 40
    v_after_first = table.latest_version()
    # simulate redelivery: wipe the checkpoint's commit record so the
    # restarted query re-emits batch 0 with the SAME batch id
    shutil.rmtree(os.path.join(ckpt, "commits"))
    run_once()
    assert table.latest_version() == v_after_first  # txn replay = no-op
    assert table.read().count() == 40


# ------------------------------------------------------------------
# bloom-filter file index (r8)


def _bloom_table(spark, tmp_path, **kw):
    return SnapshotTable(spark, str(tmp_path / "bloom_tbl"), **kw)


_INTERLEAVED = [
    [(1, "a1"), (500, "m1"), (999, "z1")],
    [(2, "a2"), (501, "m2"), (998, "z2")],
    [(3, "a3"), (502, "m3"), (997, "z3")],
]


@pytest.mark.slow  # heavy battery: default gate skips; round-close full suite runs it
def test_bloom_index_prunes_point_lookups_stats_cannot(spark, tmp_path):
    """r8: every commit's [min, max] spans the id domain (interleaved
    keys), so footer stats keep ALL files for an equality probe — the
    per-file bloom recorded at commit time is what prunes. Probes on
    bigint and string columns, absent-key probes emptying the scan
    with zero file opens, and conservativeness over every committed
    value."""
    t = _bloom_table(spark, tmp_path, bloom_cols=["id", "v"])
    for b in _INTERLEAVED:
        t.commit_append(_mk(spark, b).coalesce(1))
    v = t.latest_version()
    m = t._load(v)
    total = len(m["files"])
    assert total == 3  # one file per commit; each spans the id domain
    # stats alone keep every file for the point probe
    stats_kept = [
        f
        for f in m["files"]
        if SnapshotTable._file_may_match(m["file_stats"].get(f, {}), "id", "==", 501)
    ]
    assert len(stats_kept) == total
    # the bloom prunes to the commit(s) that can hold the key
    keep, tot = t.prune_files(v, ("id", "==", 501))
    assert tot == total and 0 < len(keep) < total
    got = sorted(
        map(tuple, t.read(prune=("id", "==", 501)).filter("id = 501").collect())
    )
    assert got == [(501, "m2")]
    # absent key: all files proven clean, scan empties driver-side
    keep_none, _ = t.prune_files(v, ("id", "==", 123456))
    assert keep_none == []
    assert t.read(prune=("id", "==", 123456)).count() == 0
    # string-column blooms prune too
    keep_s, _ = t.prune_files(v, ("v", "==", "m3"))
    assert 0 < len(keep_s) < total
    assert t.read(prune=("v", "==", "zz_missing")).count() == 0
    # conservativeness: no committed value is ever bloom-pruned away
    for b in _INTERLEAVED:
        for id_, v_ in b:
            assert (
                t.read(prune=("id", "==", id_)).filter(f"id = {id_}").count() == 1
            )
            assert (
                t.read(prune=("v", "==", v_)).filter(f"v = '{v_}'").count() == 1
            )


@pytest.mark.slow  # heavy battery: default gate skips; round-close full suite runs it
def test_bloom_readers_need_no_configuration(spark, tmp_path):
    """Blooms live in the manifest: a reader instance opened WITHOUT
    bloom_cols still bloom-prunes, and range predicates are untouched
    (blooms only ever serve equality)."""
    w = _bloom_table(spark, tmp_path, bloom_cols=["v"])
    for b in _INTERLEAVED:
        w.commit_append(_mk(spark, b).coalesce(1))
    r = SnapshotTable(spark, w.root)
    v = r.latest_version()
    keep, total = r.prune_files(v, ("v", "==", "m2"))
    assert 0 < len(keep) < total
    # range probe ignores blooms entirely — stats semantics unchanged
    keep_rng, _ = r.prune_files(v, ("id", ">=", 997))
    assert len(keep_rng) == total  # every commit holds a 99x id


@pytest.mark.slow  # heavy battery: default gate skips; round-close full suite runs it
def test_bloom_abstains_on_unsupported_value_types(spark, tmp_path):
    """_bloom_canon abstains for value types whose string form Spark
    and Python may render differently (floats etc.) — the probe falls
    back to stats-only and keeps the file (conservative, never
    wrong)."""
    t = _bloom_table(spark, tmp_path, bloom_cols=["id"])
    for b in _INTERLEAVED:
        t.commit_append(_mk(spark, b).coalesce(1))
    v = t.latest_version()
    total = len(t._load(v)["files"])
    keep_float, _ = t.prune_files(v, ("id", "==", 501.0))
    assert len(keep_float) == total  # abstained: stats keep all
    keep_int, _ = t.prune_files(v, ("id", "==", 501))
    assert len(keep_int) < total


def test_bloom_validates_bits(spark, tmp_path):
    with pytest.raises(ValueError, match="multiple of 64"):
        _bloom_table(spark, tmp_path, bloom_cols=["v"], bloom_bits=100)


@pytest.mark.slow  # heavy battery: default gate skips; round-close full suite runs it
def test_bloom_survives_dml_and_maintenance(spark, tmp_path):
    """merge_upsert / delete_where / compact / rollback all keep the
    bloom index coherent: carried files keep their recorded blooms,
    rewritten files get fresh ones, and absent-key probes still empty
    the scan at every version."""
    t = _bloom_table(spark, tmp_path, bloom_cols=["v"])
    for b in _INTERLEAVED:
        t.commit_append(_mk(spark, b).coalesce(1))

    def absent_prunes_all():
        vv = t.latest_version()
        keep, _ = t.prune_files(vv, ("v", "==", "nope"))
        assert keep == []

    absent_prunes_all()
    t.merge_upsert(_mk(spark, [(501, "M2"), (777, "new")]), keys=["id"])
    absent_prunes_all()
    # the rewritten value is findable, the overwritten one is gone
    assert t.read(prune=("v", "==", "M2")).filter("v = 'M2'").count() == 1
    assert t.read(prune=("v", "==", "m2")).filter("v = 'm2'").count() == 0
    t.delete_where(("id", "==", 999))
    absent_prunes_all()
    assert t.read(prune=("v", "==", "z1")).filter("v = 'z1'").count() == 0
    assert t.read(prune=("v", "==", "m1")).filter("v = 'm1'").count() == 1
    v_before = t.latest_version()
    t.compact(target_file_bytes=1)  # force a rewrite; blooms recomputed
    absent_prunes_all()
    assert t.read(prune=("v", "==", "new")).filter("v = 'new'").count() == 1
    t.rollback(v_before)
    absent_prunes_all()
    assert t.read(prune=("v", "==", "M2")).filter("v = 'M2'").count() == 1


# ------------------------------------------------------------------
# change data feed (r8)


def _changes(t, v_from, v_to):
    out = {}
    for r in t.changes_between(v_from, v_to).collect():
        out.setdefault(r["_change_type"], []).append((r["id"], r["v"]))
    return {k: sorted(v) for k, v in out.items()}


def test_cdf_append_is_inserts_only(spark, table):
    table.commit_append(_mk(spark, [(1, "a"), (2, "b")]))
    table.commit_append(_mk(spark, [(3, "c")]))
    assert _changes(table, 1, 2) == {"insert": [(3, "c")]}
    # from the empty table: everything is an insert
    assert _changes(table, 0, 2) == {"insert": [(1, "a"), (2, "b"), (3, "c")]}
    # no-op span
    assert _changes(table, 2, 2) == {}


def test_cdf_merge_emits_delete_plus_insert_for_changed_rows_only(spark, table):
    """merge_upsert rewrites whole files, but the CDF's exceptAll
    cancels rewritten-but-unchanged rows: only the truly updated key
    shows (as delete + insert) plus the genuinely new key."""
    table.commit_append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    v1 = table.latest_version()
    table.merge_upsert(_mk(spark, [(2, "B"), (9, "new")]), keys=["id"])
    got = _changes(table, v1, table.latest_version())
    assert got == {"delete": [(2, "b")], "insert": [(2, "B"), (9, "new")]}


def test_cdf_delete_where_emits_deletes_only(spark, table):
    table.commit_append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    v1 = table.latest_version()
    table.delete_where(("id", "==", 2))
    assert _changes(table, v1, table.latest_version()) == {"delete": [(2, "b")]}


def test_cdf_compact_reports_zero_changes(spark, table):
    for i in range(3):
        table.commit_append(_mk(spark, [(i, f"x{i}")]))
    v = table.latest_version()
    table.compact(target_file_bytes=10**9)
    assert table.latest_version() > v  # a real rewrite happened
    assert table.changes_between(v, table.latest_version()).count() == 0


def test_cdf_overwrite_is_full_delete_plus_insert(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    table.commit_overwrite(_mk(spark, [(9, "z")]))
    assert _changes(table, 1, 2) == {"delete": [(1, "a")], "insert": [(9, "z")]}


def test_cdf_schema_evolution_reads_under_target_schema(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    df2 = spark.createDataFrame([(2, "b", 7.5)], "id bigint, v string, w double")
    table.commit_append(df2, merge_schema=True)
    rows = {
        (r["id"], r["v"], r["w"], r["_change_type"])
        for r in table.changes_between(1, 2).collect()
    }
    assert rows == {(2, "b", 7.5, "insert")}
    # span covering the old commit: its rows surface with w = NULL
    rows0 = {
        (r["id"], r["w"]) for r in table.changes_between(0, 2).collect()
    }
    assert rows0 == {(1, None), (2, 7.5)}


def test_cdf_rejects_inverted_span(spark, table):
    table.commit_append(_mk(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="v_from"):
        table.changes_between(1, 0)


@pytest.mark.slow  # heavy battery: default gate skips; round-close full suite runs it
def test_zorder_compaction_improves_multicolumn_pruning(spark, table):
    """compact(zorder_by=[a, b]): after interleaved appends destroy
    per-file locality, a Z-ordered compaction makes equality/range
    prunes on BOTH clustered columns drop files — where a linear
    sort_by=[a] would leave b unclustered — and the rows survive
    byte-identical."""
    import random

    rng = random.Random(7)
    df = spark.createDataFrame(
        [(rng.randrange(1000), rng.randrange(1000)) for _ in range(4000)],
        "a bigint, b bigint",
    )
    t = SnapshotTable(spark, table.root + "_z")
    # interleaved commits: every file spans both domains
    for i in range(4):
        t.commit_append(df.filter(F.col("a") % 4 == i).coalesce(1))
    v0 = t.latest_version()
    for col in ("a", "b"):
        keep, total = t.prune_files(v0, (col, "<", 100))
        assert len(keep) == total  # nothing prunable pre-compaction
    before = sorted(map(tuple, t.read().collect()))
    t.compact(target_file_bytes=4000, zorder_by=["a", "b"], zorder_bits=8)
    v1 = t.latest_version()
    total1 = len(t._load(v1)["files"])
    assert total1 >= 4
    for col in ("a", "b"):
        keep, _ = t.prune_files(v1, (col, "<", 100))
        assert len(keep) < total1, f"z-order gave no pruning on {col}"
    assert sorted(map(tuple, t.read().collect())) == before
    with pytest.raises(ValueError, match="not both"):
        t.compact(sort_by=["a"], zorder_by=["b"])


def test_tags_pin_versions_and_survive_vacuum(spark, table):
    """Iceberg-style tags: read(tag=) resolves the pinned version,
    tags are immutable unless replace=True, and a tagged snapshot's
    files AND manifest survive a vacuum that would otherwise reclaim
    them."""
    table.commit_append(_mk(spark, [(1, "a")]))
    table.tag("training-run")
    table.commit_overwrite(_mk(spark, [(2, "b")]))
    table.commit_overwrite(_mk(spark, [(3, "c")]))
    assert table.tags() == {"training-run": 1}
    assert _rows(table.read(tag="training-run")) == [(1, "a")]
    with pytest.raises(ValueError, match="exists"):
        table.tag("training-run", version=2)
    # vacuum keeps v1 (tagged) and v3 (latest); v2 goes
    deleted = table.vacuum(keep_last=1, min_age_seconds=0)
    assert deleted, "v2's files should be reclaimed"
    assert _rows(table.read(tag="training-run")) == [(1, "a")]
    assert _rows(table.read()) == [(3, "c")]
    with pytest.raises(ValueError, match="vacuumed or never"):
        table.read(version=2)
    # delete the tag; the next vacuum reclaims v1 too
    table.delete_tag("training-run")
    assert table.vacuum(keep_last=1, min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuumed or never"):
        table.read(version=1)
    # moved tags and unknown reads
    table.tag("latest-good", version=3)
    table.tag("latest-good", version=3, replace=True)
    with pytest.raises(ValueError, match="no tag"):
        table.read(tag="nope")
    with pytest.raises(ValueError, match="at most one"):
        table.read(version=3, tag="latest-good")


# ---------------------------------------------------------------------------
# rewrite-vs-append races (ADVICE r8 high): a commit landing between a
# rewrite's read of the table and its publish must never have its files
# silently dropped from the rewrite's manifest (lost update)


def _fire_once_before_publish(victim, rival_fn):
    """Patch victim._publish so that the FIRST publish attempt is
    preceded by rival_fn() — simulating a concurrent commit landing
    between the rewrite's read and its manifest publish."""
    real_publish = victim._publish
    fired = {"done": False}

    def racing_publish(mk):
        if not fired["done"]:
            fired["done"] = True
            rival_fn()
        return real_publish(mk)

    victim._publish = racing_publish


def test_merge_rebases_on_concurrent_append(spark, table):
    """merge_upsert vs append race: the appended rows must survive the
    merge (rebase), and the merge's upsert must still apply — even to
    the rival's rows, since the rebase re-reads the new latest."""
    table.commit_append(_mk(spark, [(1, "a"), (2, "b")]))
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim, lambda: table.commit_append(_mk(spark, [(50, "rival")]))
    )
    victim.merge_upsert(_mk(spark, [(2, "B2"), (9, "new")]), ["id"])
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "B2", 9: "new", 50: "rival"}


def test_merge_rebase_reapplies_to_rival_keys(spark, table):
    """If the racing append lands a row whose KEY the merge upserts,
    the rebased merge must replace it too — carrying the rival file
    unmodified would leave a stale duplicate."""
    table.commit_append(_mk(spark, [(1, "a")]))
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim, lambda: table.commit_append(_mk(spark, [(2, "stale")]))
    )
    victim.merge_upsert(_mk(spark, [(2, "fresh")]), ["id"])
    assert _rows(table.read()) == [(1, "a"), (2, "fresh")]


def test_delete_rebases_on_concurrent_append(spark, table):
    """delete_where vs append race: rival rows survive if they don't
    match the predicate, and are deleted if they do (the rebase
    re-applies the predicate against the new latest)."""
    table.commit_append(_mk(spark, [(1, "a"), (10, "x")]))
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim,
        lambda: table.commit_append(_mk(spark, [(3, "keep"), (11, "drop")])),
    )
    victim.delete_where(("id", ">=", 10))
    assert _rows(table.read()) == [(1, "a"), (3, "keep")]


def test_compact_rebases_on_concurrent_append(spark, table):
    """compact vs append race: the rival's rows must be in the
    compacted table — a stale compact manifest would have dropped
    them entirely."""
    for i in range(4):
        table.commit_append(_mk(spark, [(i, f"v{i}")]))
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim, lambda: table.commit_append(_mk(spark, [(99, "rival")]))
    )
    v = victim.compact()
    assert table._load(v)["operation"] == "compact"
    assert _rows(table.read()) == [
        (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"), (99, "rival"),
    ]


def test_consolidate_join_view_rebases_on_concurrent_append(spark, tmp_path):
    """consolidate_join_view vs delta-append race: a streaming delta
    landing mid-consolidation must survive into the folded view."""
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import (
        consolidate_join_view,
        read_join_view,
    )

    root = str(tmp_path / "view")
    t = SnapshotTable(spark, root)
    zrow = "k bigint, v string, __weight bigint"
    t.commit_append(spark.createDataFrame([(1, "a", 1), (1, "a", 1)], zrow))

    real_publish = SnapshotTable._publish
    fired = {"done": False}

    def racing_publish(self, mk):
        # fire only on the consolidation's own publish (overwrite op);
        # the rival append itself must pass through untouched
        if not fired["done"] and self.root == root:
            fired["done"] = True
            rival = SnapshotTable.__new__(SnapshotTable)
            rival.__dict__.update(self.__dict__)
            rival._publish = lambda mk2: real_publish(rival, mk2)
            rival.commit_append(
                spark.createDataFrame([(2, "late", 1)], zrow)
            )
        return real_publish(self, mk)

    import healthcare_data_lakehouse_using_gcp_spark.sources.snapshots as snap_mod

    orig = snap_mod.SnapshotTable._publish
    snap_mod.SnapshotTable._publish = racing_publish
    try:
        consolidate_join_view(spark, root)
    finally:
        snap_mod.SnapshotTable._publish = orig
    got = _rows(read_join_view(spark, root))
    assert got == [(1, "a", 2), (2, "late", 1)]


def test_concurrent_committers_are_linearizable(spark, table):
    """VERDICT r8 item 8: hammer the optimistic os.link publish with
    concurrent committer threads (appends racing a compaction); the
    version history must be gapless and NO committed row may vanish."""
    import threading

    table.commit_append(_mk(spark, [(-1, "seed")]))
    n_threads, per_thread = 6, 3
    errs = []

    def appender(tid):
        try:
            mine = SnapshotTable(spark, table.root)
            for j in range(per_thread):
                mine.commit_append(_mk(spark, [(tid * 100 + j, f"t{tid}")]))
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    def compactor():
        try:
            mine = SnapshotTable(spark, table.root)
            for _ in range(2):
                mine.compact(target_file_bytes=1)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=appender, args=(t,)) for t in range(n_threads)
    ] + [threading.Thread(target=compactor)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    # gapless linear history: versions 1..latest all exist
    vs = table.versions()
    assert vs == list(range(1, vs[-1] + 1))
    # every committed row present exactly once
    ids = sorted(r["id"] for r in table.read().collect())
    expect = sorted(
        [-1] + [t * 100 + j for t in range(n_threads) for j in range(per_thread)]
    )
    assert ids == expect


# ---------------------------------------------------------------------------
# aborted-rebase hygiene (ADVICE r9): a rewrite attempt whose publish
# aborts on ConcurrentCommitError must reclaim the data file group it
# just wrote — never leave orphaned commit dirs for vacuum's grace
# window — and must probe staleness BEFORE the next attempt's write


def _referenced_files(t):
    out = set()
    for v in range(1, t.latest_version() + 1):
        out |= set(t._load(v)["files"])
    return out


def _on_disk_files(t):
    import glob as g
    import os as o

    return {
        o.path.relpath(f, t.root)
        for f in g.glob(o.path.join(t.root, "data", "*", "*.parquet"))
    }


def test_aborted_merge_rebase_leaves_no_orphan_files(spark, table):
    """The losing merge attempt's file group is reclaimed when the
    publish aborts to rebase: after the race, every parquet under
    data/ is referenced by some manifest version."""
    table.commit_append(_mk(spark, [(1, "a"), (2, "b")]))
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim, lambda: table.commit_append(_mk(spark, [(50, "rival")]))
    )
    victim.merge_upsert(_mk(spark, [(2, "B2")]), ["id"])
    assert _on_disk_files(table) == _referenced_files(table)
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "B2", 50: "rival"}


def test_aborted_compact_rebase_leaves_no_orphan_files(spark, table):
    for i in range(3):
        table.commit_append(_mk(spark, [(i, f"v{i}")]))
    victim = SnapshotTable(spark, table.root)
    _fire_once_before_publish(
        victim, lambda: table.commit_append(_mk(spark, [(99, "rival")]))
    )
    victim.compact()
    assert _on_disk_files(table) == _referenced_files(table)


def test_stale_rewrite_probes_before_write(spark, table, monkeypatch):
    """If the table moved between a rewrite's read and its data write,
    the pre-write probe raises the rebase signal WITHOUT writing: the
    expensive _write_data must not run for a doomed attempt."""
    from healthcare_data_lakehouse_using_gcp_spark.sources import (
        snapshots as snapmod,
    )

    table.commit_append(_mk(spark, [(1, "a"), (2, "b")]))
    victim = SnapshotTable(spark, table.root)
    writes = {"n": 0}
    real_write = SnapshotTable._write_data

    def counting_write(self, df):
        if self is victim:  # the rival append writes through `table`
            writes["n"] += 1
        return real_write(self, df)

    fired = {"done": False}
    real_probe = SnapshotTable._raise_if_files_moved

    def racing_probe(self, base, op):
        # rival lands BEFORE the first probe (i.e. between the
        # rewrite's read and its write): probe must raise, write must
        # not have happened yet
        if not fired["done"]:
            fired["done"] = True
            table.commit_append(_mk(spark, [(50, "rival")]))
        return real_probe(self, base, op)

    monkeypatch.setattr(SnapshotTable, "_write_data", counting_write)
    monkeypatch.setattr(SnapshotTable, "_raise_if_files_moved", racing_probe)
    monkeypatch.setattr(
        SnapshotTable, "_rebase_backoff", lambda self, a: None
    )
    victim.merge_upsert(_mk(spark, [(2, "B2")]), ["id"])
    # exactly ONE write: the doomed first attempt was stopped by the
    # probe before writing; only the rebased attempt wrote data
    assert writes["n"] == 1
    assert _on_disk_files(table) == _referenced_files(table)
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "B2", 50: "rival"}
