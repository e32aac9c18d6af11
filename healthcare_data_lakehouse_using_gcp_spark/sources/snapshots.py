"""Snapshot-versioned parquet tables — the Iceberg/Delta-style
transactional metadata layer over plain parquet files.

The reference gets versioned tables for free from BigQuery (time
travel via ``FOR SYSTEM_TIME AS OF``; its zones are WRITE_APPEND,
healthcare_etl_pipeline.py:300-348). On a raw parquet lake nothing
provides that: a half-finished write is immediately visible to
readers, a replayed batch duplicates rows, and there is no way back
from a bad overwrite. This module supplies the missing piece the
same way Iceberg/Delta do — IMMUTABLE data files + a tiny versioned
manifest that is the single source of truth for "what is in the
table".

Layout::

    <root>/data/<commit-uuid>/part-*.parquet   immutable data files
    <root>/_snapshots/v00000001.json           one manifest per version

A manifest is the COMPLETE table state at that version: the explicit
list of data files (paths relative to root), per-commit row count
(summed from parquet footers — metadata-only, no data scan), the
schema, the operation, the parent version, and an optional
idempotence token (``txn_id``).

Why this holds at 100 TB:

- **Snapshot isolation for free.** Readers resolve the table by
  reading ONE small JSON driver-side and passing the explicit file
  list to ``spark.read.parquet`` — never by listing ``data/``. Files
  from in-flight or abandoned commits are invisible until their
  manifest publishes, so a reader can never observe a torn write.
- **Appends are O(new data).** An append manifest = parent file list
  + the new files; history is never rewritten. The manifest itself
  is O(#files) JSON — at very large file counts you shard it into
  manifest groups (Iceberg's manifest list) but the commit protocol
  below is unchanged.
- **Optimistic concurrency, contention on a pointer only.** Data
  files are written first (invisible); the commit then publishes
  ``v(N+1).json`` via hard-link-from-temp — ``os.link`` is atomic
  and fails with EEXIST if a concurrent committer won the race, in
  which case only the manifest step retries against the new latest;
  the data files need no rework. On an object store the same step is
  a conditional create (S3 ``If-None-Match: *`` / GCS
  ``ifGenerationMatch=0``).
- **Exactly-once sinks.** ``commit_append(df, txn_id=...)`` is a
  no-op returning the existing version when that token already
  committed — pass ``txn_id=f"batch-{batch_id}"`` from a Structured
  Streaming ``foreachBatch`` and micro-batch redelivery converges
  instead of duplicating (streaming/pipeline.make_etl_sink does this
  for every processed-zone route; ``merge_upsert`` takes the same
  token for keyed zones).
- **Deletes happen in exactly one place.** ``vacuum`` removes data
  files referenced by NO retained snapshot (plus their manifests);
  everything else only ever adds files. ``min_age_seconds`` guards
  the classic orphan-GC race: an in-flight commit's files are
  unreferenced until its manifest lands, so production vacuums keep
  a grace window (Iceberg's orphan-file age threshold).

``rollback(to_version)`` is non-destructive: it publishes a NEW
version whose file list equals the target's, so the bad history
remains auditable (and vacuumable).

Beyond the append/overwrite core, the table format carries the full
lifecycle (all copy-on-write, all one atomic version, all
txn-idempotent):

- **File skipping**: every commit records per-file column [min, max]
  from the footers it already reads; ``read(prune=(col, op, value))``
  drops files driver-side with zero opens. Tables opened with
  ``bloom_cols=[...]`` additionally record a per-file BLOOM FILTER
  per listed column (Delta's bloom index, computed distributedly over
  the new files only), so equality lookups on high-cardinality
  unsorted keys — where every file's [min, max] spans the domain —
  still prune. Readers need no configuration; files committed
  without blooms simply never bloom-prune.
- **DML**: ``merge_upsert(batch, keys)`` (keyed upsert rewriting only
  stat-overlapping files) and ``delete_where(predicate)``
  (right-to-erasure; stats-proven-clean deletes no-op; vacuum
  completes hard erasure of history).
- **Maintenance**: ``compact()`` bin-packs small files;
  ``compact(sort_by=...)`` additionally restores the disjoint
  per-file ranges that make skipping effective.
- **Change feed**: ``changes_between(v_from, v_to)`` reads the
  inserted/deleted rows between two versions from the manifest file
  diff — appends cost a scan of only the new files; pure rewrites
  (compact) report zero changes.
- **Tags**: ``tag(name)`` pins a named, vacuum-immune handle to a
  version (``read(tag=...)``) — the "exact table the model trained
  on" stays reproducible however old it gets.
- **Evolution**: ``commit_append(merge_schema=True)`` adds columns
  (old files read NULL); drops/retypes stay errors.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_snapshots"
_DATA_DIR = "data"


def _bloom_canon(value) -> str | None:
    """Canonical string form a bloom indexes — must equal Spark's
    CAST(col AS STRING) for the value's type, because the commit-side
    positions hash exactly that. Supported: int, str, bool, date
    (Spark prints all four identically to Python). Anything else
    (float's scientific-notation divergence, timestamps' session-zone
    rendering, bytes, NULL) returns None ⇒ the bloom abstains and
    pruning falls back to [min, max] only."""
    import datetime as _dt

    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
        return value.isoformat()
    return None


def _bloom_positions(col: str, canon: str, n_hashes: int, n_bits: int) -> list[int]:
    """The k bit positions for one value — md5 of ``"col:i:value"``
    truncated to 60 bits, mod the filter width. Mirrors the Spark
    expression in _collect_file_blooms term for term (md5 is the one
    hash both engines spell identically); any drift between the two
    would surface as false NEGATIVES, which the conservativeness
    property test would catch."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{col}:{i}:{canon}".encode()).hexdigest()[:15], 16
        )
        % n_bits
        for i in range(n_hashes)
    ]


def _bloom_test(hex_words: str, positions: list[int]) -> bool:
    """True iff every position's bit is set (value may be present)."""
    for p in positions:
        word = int(hex_words[(p // 64) * 16 : (p // 64 + 1) * 16], 16)
        if not (word >> (p % 64)) & 1:
            return False
    return True


class TxnAlreadyCommitted(Exception):
    """Raised internally when a txn_id is found mid-commit; carries
    the version that token originally produced."""

    def __init__(self, version: int):
        self.version = version
        super().__init__(f"txn already committed at version {version}")


class ConcurrentCommitError(RuntimeError):
    """A commit landed between a REWRITE's read of the table and its
    publish attempt, changing the file set the rewrite derived its
    contents from (e.g. a concurrent append added files the rewrite's
    manifest would silently drop — the classic lost update, ADVICE
    r8). merge_upsert / delete_where / compact / consolidate_join_view
    catch this internally and rebase (recompute against the new
    latest); it escapes only after repeated conflicts."""


class SnapshotTable:
    """A snapshot-versioned parquet table rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 2048,
        bloom_hashes: int = 4,
    ):
        """``bloom_cols`` opts commits made through THIS instance into
        per-file bloom filters on those columns (Delta's bloom index):
        min/max stats cannot prune point lookups on high-cardinality
        UNSORTED keys (every file's [min, max] spans the domain), a
        bloom can. Readers need no configuration — the manifest
        carries each file's filters, and files committed without
        blooms simply never bloom-prune (conservative by absence).
        ``bloom_bits`` is per file per column (2048 bits = 32 words =
        512 hex chars of manifest JSON); size it ≳ 10× the expected
        DISTINCT values per file for a low false-positive rate —
        an undersized bloom costs only pruning power, never rows."""
        self.spark = spark
        self.root = root
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes
        if bloom_bits % 64 != 0 or bloom_bits <= 0:
            raise ValueError("bloom_bits must be a positive multiple of 64")
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # ---------------------------------------------------------- metadata

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"v{version:08d}.json")

    def versions(self) -> list[int]:
        paths = glob.glob(os.path.join(self.root, _MANIFEST_DIR, "v*.json"))
        return sorted(int(os.path.basename(p)[1:-5]) for p in paths)

    def latest_version(self) -> int:
        """Current version; 0 means the table has no commits yet."""
        vs = self.versions()
        return vs[-1] if vs else 0

    def _load(self, version: int) -> dict:
        path = self._manifest_path(version)
        if not os.path.exists(path):
            have = self.versions()
            raise ValueError(
                f"no snapshot v{version} at {self.root} "
                f"(available: {have or 'none'} — vacuumed or never committed)"
            )
        with open(path) as f:
            return json.load(f)

    # ---------------------------------------------------------- tags

    def _tag_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("v") and name[1:].isdigit():
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self.root, _MANIFEST_DIR, f"tag-{name}.json")

    def tag(self, name: str, version: int | None = None, replace: bool = False) -> int:
        """Pin a named tag to a version (default: latest) — Iceberg
        tags: a durable, human-meaningful handle ('v2024-audit',
        'training-run-17') that ``read(tag=...)`` resolves and, more
        importantly, that VACUUM RESPECTS — a tagged snapshot's files
        and manifest are retained no matter how old, which is what
        makes 'the exact table the model trained on' reproducible a
        year later. Tags are immutable unless ``replace=True``."""
        v = self.latest_version() if version is None else version
        self._load(v)  # must exist
        path = self._tag_path(name)
        if os.path.exists(path) and not replace:
            raise ValueError(
                f"tag {name!r} exists (-> v{self.tags()[name]}); "
                "pass replace=True to move it"
            )
        tmp = path + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": v}, f)
        os.replace(tmp, path)
        return v

    def tags(self) -> dict[str, int]:
        """All tags: {name: version}."""
        out = {}
        for p in glob.glob(os.path.join(self.root, _MANIFEST_DIR, "tag-*.json")):
            with open(p) as f:
                d = json.load(f)
            out[d["name"]] = d["version"]
        return out

    def delete_tag(self, name: str) -> None:
        path = self._tag_path(name)
        if not os.path.exists(path):
            raise ValueError(f"no tag {name!r} at {self.root}")
        os.unlink(path)

    def history(self) -> list[dict]:
        """One dict per retained snapshot, oldest first (driver-tiny:
        |versions| rows, never data-proportional)."""
        out = []
        for v in self.versions():
            m = self._load(v)
            out.append(
                {
                    "version": v,
                    "parent": m["parent"],
                    "operation": m["operation"],
                    "committed_at": m["committed_at"],
                    "txn_id": m["txn_id"],
                    "n_files": len(m["files"]),
                    "n_rows": m["n_rows"],
                }
            )
        return out

    def _txn_version(self, txn_id: str) -> int | None:
        for v in self.versions():
            if self._load(v)["txn_id"] == txn_id:
                return v
        return None

    # ---------------------------------------------------------- commit

    @staticmethod
    def _stat_value(v):
        """Normalize a parquet footer min/max into a JSON-storable,
        order-preserving value: numbers/strings/bools pass through,
        dates/timestamps become ISO strings (lexicographic order ==
        chronological order), anything else (bytes, decimals, nested)
        is skipped — pruning then conservatively keeps the file."""
        import datetime as _dt

        if isinstance(v, bool) or isinstance(v, (int, float, str)):
            return v
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        return None

    def _collect_file_stats(self, path: str) -> dict:
        """Per-column [min, max] from a parquet file's footer — the
        manifest-level pruning index (Iceberg's per-file stats). Only
        top-level primitive columns with footer statistics are
        recorded; absence means 'cannot prune'."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        mins: dict = {}
        maxs: dict = {}
        # once ANY row group lacks usable stats for a column, the
        # recorded [min, max] can never cover the whole file — the
        # column is dead for this file and must never be re-added
        # (re-adding on a later row group would record a range
        # covering only that group and let prune_files skip a file
        # whose uncovered group holds matching rows — ADVICE r8)
        dead: set = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested — skip
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    dead.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                lo = self._stat_value(st.min)
                hi = self._stat_value(st.max)
                if lo is None or hi is None:
                    dead.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                if name in dead:
                    continue
                if name not in mins:
                    if rg == 0:
                        mins[name], maxs[name] = lo, hi
                    else:
                        # first sighting after row group 0: earlier
                        # groups never produced stats for it
                        dead.add(name)
                else:
                    try:
                        mins[name] = min(mins[name], lo)
                        maxs[name] = max(maxs[name], hi)
                    except TypeError:
                        dead.add(name)
                        mins.pop(name, None)
                        maxs.pop(name, None)
        return {c: [mins[c], maxs[c]] for c in mins if c in maxs}

    def _collect_file_blooms(self, rel_files: list[str]) -> dict:
        """Per-(file, column) bloom bitsets for ``self.bloom_cols``,
        computed DISTRIBUTEDLY over the just-written files (one extra
        scan of the new commit's data only — never the table). Plan
        per column: project (input_file_name, cast-to-string), explode
        the k md5 positions, distinct, fold position → word/bit, and
        bit_or-aggregate per (file, word) — the driver collects only
        |files| × |words| rows, never values. Returns
        {rel_path: {col: hex}} with words big-endian-hex concatenated
        in index order."""
        if not self.bloom_cols or not rel_files:
            return {}
        paths = [os.path.join(self.root, r) for r in rel_files]
        base = {os.path.basename(r): r for r in rel_files}
        df = self.spark.read.parquet(*paths)
        m, k = self.bloom_bits, self.bloom_hashes
        n_words = m // 64
        out: dict = {r: {} for r in rel_files}
        for col in self.bloom_cols:
            if col not in df.columns:
                continue
            s = F.col(col).cast("string")
            positions = [
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{col}:{i}:"), s)), 1, 15
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    F.lit(m),
                )
                for i in range(k)
            ]
            words = (
                df.where(F.col(col).isNotNull())
                .select(
                    F.input_file_name().alias("__f"),
                    F.explode(F.array(*positions)).alias("__p"),
                )
                .distinct()
                .select(
                    "__f",
                    F.floor(F.col("__p") / 64).cast("int").alias("__w"),
                    F.expr("shiftleft(1L, cast(__p % 64 as int))").alias("__m"),
                )
                .groupBy("__f", "__w")
                .agg(F.expr("bit_or(__m)").alias("__bits"))
                .collect()
            )
            acc: dict = {}
            for row in words:
                rel = base.get(os.path.basename(row["__f"]))
                if rel is None:
                    continue
                acc.setdefault(rel, [0] * n_words)[row["__w"]] = (
                    row["__bits"] & 0xFFFFFFFFFFFFFFFF
                )
            for rel, wlist in acc.items():
                out[rel][col] = "".join(f"{w:016x}" for w in wlist)
        return {
            r: {"bits": m, "hashes": k, "cols": cols}
            for r, cols in out.items()
            if cols
        }

    def _write_data(self, df: DataFrame) -> tuple[list[str], int, dict, dict]:
        """Write df's rows as a fresh immutable file group; return
        (root-relative file paths, row count, per-file column stats,
        per-file blooms) — stats from footers only; blooms (when
        configured) from one distributed scan of the new files."""
        import pyarrow.parquet as pq

        commit_dir = uuid.uuid4().hex
        out = os.path.join(self.root, _DATA_DIR, commit_dir)
        # NO rebalance here (considered and rejected, optimization
        # r16): _write_data is shared by the LAYOUT commits —
        # range-sort / Z-order / Hilbert compaction deliberately
        # cluster rows into files so min/max stats prune, and a
        # keyless AQE rebalance would shuffle that clustering away
        # (measured: the zorder-pruning test fails with it). Sliver
        # control for snapshot appends belongs at the CALLER, where
        # intent is known (zone writers rebalance by their partition
        # columns); zero-row parts are already dropped below.
        df.write.parquet(out)
        # the MANIFEST is the commit marker; Spark's _SUCCESS (and any
        # other non-data artifact) would only confuse vacuum's
        # referenced-set arithmetic. os.listdir, not glob: Hadoop
        # LocalFS checksum dotfiles (.part-*.parquet.crc, ._SUCCESS.crc)
        # are invisible to glob('*') and would otherwise accumulate and
        # keep vacuumed commit dirs non-empty forever (ADVICE r7).
        for name in os.listdir(out):
            if not name.endswith(".parquet") or name.startswith("."):
                os.unlink(os.path.join(out, name))
        files = sorted(glob.glob(os.path.join(out, "*.parquet")))
        # drop zero-row part files (empty upstream partitions): they
        # carry no data but also no column stats, so they would sit in
        # every manifest as permanently unprunable scan work
        kept = []
        for f in files:
            if pq.ParquetFile(f).metadata.num_rows == 0:
                os.unlink(f)
            else:
                kept.append(f)
        files = kept
        n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        rel = [os.path.relpath(f, self.root) for f in files]
        stats = {
            r: self._collect_file_stats(os.path.join(self.root, r)) for r in rel
        }
        return rel, n_rows, stats, self._collect_file_blooms(rel)

    def _discard_file_group(self, rel_files: list[str]) -> None:
        """Best-effort unlink of a just-written, never-published data
        file group (ADVICE r9): when a rewrite's publish aborts with
        ConcurrentCommitError (or loses a txn replay race), its files
        are referenced by NO manifest — without this, each aborted
        rebase attempt leaves a full orphaned commit dir on disk until
        vacuum's grace window expires. Only ever called for groups
        whose manifest creation raised BEFORE the atomic link."""
        for r in rel_files:
            try:
                os.unlink(os.path.join(self.root, r))
            except OSError:
                pass
        for d in {os.path.dirname(r) for r in rel_files}:
            try:
                os.rmdir(os.path.join(self.root, d))
            except OSError:
                pass  # non-empty (checksum dotfiles) or already gone

    def _raise_if_files_moved(self, base_files: set[str], op: str) -> None:
        """Cheap staleness probe BEFORE an expensive rewrite write
        (ADVICE r9): if the latest manifest's file set already differs
        from the set this rewrite read, the publish is guaranteed to
        abort — raise the rebase signal now, before _write_data burns
        a full data rewrite that would only be orphaned."""
        v = self.latest_version()
        cur = set(self._load(v)["files"]) if v else set()
        if cur != base_files:
            raise ConcurrentCommitError(
                f"{op} pre-write check: latest v{v} added "
                f"{sorted(cur - base_files)[:3]} / removed "
                f"{sorted(base_files - cur)[:3]} — rebasing before write"
            )

    @staticmethod
    def _rebase_backoff(attempt: int) -> None:
        """Small jittered sleep between rebase attempts so sustained
        contenders interleave instead of lock-stepping (ADVICE r9)."""
        import random

        time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))

    @staticmethod
    def _schema_key(schema: T.StructType) -> list[list[str]]:
        return [[f.name, f.dataType.simpleString()] for f in schema.fields]

    def _publish(self, make_manifest) -> int:
        """Optimistic-concurrency manifest publish: compute the
        manifest against the CURRENT latest, attempt an atomic
        create of v(latest+1), retry on collision."""
        for _ in range(50):
            n = self.latest_version() + 1
            manifest = make_manifest(n)
            tmp = os.path.join(
                self.root, _MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            try:
                # os.link = atomic create-if-absent (rename would
                # silently clobber a concurrent winner's manifest).
                os.link(tmp, self._manifest_path(n))
                return n
            except FileExistsError:
                continue  # lost the race; recompute against new latest
            finally:
                os.unlink(tmp)
        raise RuntimeError("snapshot commit failed: 50 consecutive conflicts")

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        txn_id: str | None,
        merge_schema: bool = False,
        expected_files: list[str] | None = None,
    ) -> int:
        """``expected_files`` (rewrite ops only): the file list the
        caller derived ``df``'s contents FROM. The publish aborts with
        ConcurrentCommitError if the current latest's file set differs
        — a concurrent commit added or removed files this rewrite did
        not account for, and publishing anyway would drop its rows
        (lost update). Callers catch and rebase."""
        if txn_id is not None:
            seen = self._txn_version(txn_id)
            if seen is not None:
                return seen
        schema_key = self._schema_key(df.schema)
        if expected_files is not None:
            # ADVICE r9: probe staleness BEFORE the expensive rewrite
            # write — a concurrent commit already guarantees the
            # publish below would abort and orphan this file group
            self._raise_if_files_moved(set(expected_files), operation)
        files, n_rows, new_stats, new_blooms = self._write_data(df)

        def mk(n: int) -> dict:
            parent = n - 1
            base_files: list[str] = []
            base_stats: dict = {}
            base_blooms: dict = {}
            if parent >= 1:
                pm = self._load(parent)
                # re-check txn on every retry: a same-token racer may
                # have landed between our check and this attempt
                if txn_id is not None:
                    seen_now = self._txn_version(txn_id)
                    if seen_now is not None:
                        raise TxnAlreadyCommitted(seen_now)
                if expected_files is not None:
                    cur, exp = set(pm["files"]), set(expected_files)
                    if cur != exp:
                        raise ConcurrentCommitError(
                            f"{operation} read files of an older version; "
                            f"latest v{parent} added "
                            f"{sorted(cur - exp)[:3]} / removed "
                            f"{sorted(exp - cur)[:3]} — rebase required"
                        )
                if operation == "append":
                    if pm["schema_key"] != schema_key and pm["files"]:
                        if not merge_schema:
                            raise ValueError(
                                "append schema mismatch: table has "
                                f"{pm['schema_key']}, batch has {schema_key} "
                                "(pass merge_schema=True for additive "
                                "column evolution)"
                            )
                        # additive evolution (Iceberg add-column): the
                        # batch schema must contain EVERY existing
                        # field at its existing type; old data files
                        # read NULL for the added columns (parquet is
                        # schema-on-read). Drops/retypes stay errors —
                        # they would corrupt, not evolve.
                        old = dict(map(tuple, pm["schema_key"]))
                        new = dict(map(tuple, schema_key))
                        bad = [
                            (name, typ, new.get(name))
                            for name, typ in old.items()
                            if new.get(name) != typ
                        ]
                        if bad:
                            raise ValueError(
                                "merge_schema only ADDS columns; batch "
                                f"drops or retypes existing fields: {bad}"
                            )
                    base_files = pm["files"]
                    base_stats = pm.get("file_stats", {})
                    base_blooms = pm.get("file_blooms", {})
            return {
                "version": n,
                "parent": parent,
                "operation": operation,
                "committed_at": time.time(),
                "txn_id": txn_id,
                "files": base_files + files,
                "file_stats": {**base_stats, **new_stats},
                "file_blooms": {**base_blooms, **new_blooms},
                "n_rows": n_rows,
                "schema": df.schema.json(),
                "schema_key": schema_key,
            }

        try:
            return self._publish(mk)
        except TxnAlreadyCommitted as dup:
            self._discard_file_group(files)
            return dup.version
        except ConcurrentCommitError:
            # the group was never published — reclaim it now instead
            # of leaving an orphaned commit dir for vacuum (ADVICE r9)
            self._discard_file_group(files)
            raise

    def commit_append(
        self, df: DataFrame, txn_id: str | None = None, merge_schema: bool = False
    ) -> int:
        """Append df as a new snapshot; returns the new version.
        Idempotent under ``txn_id`` replay (see module docstring).
        ``merge_schema=True`` permits ADDITIVE schema evolution: the
        batch may introduce new columns (old rows read as NULL there
        from that version on; time travel to older versions keeps the
        old schema), but dropping or retyping existing columns stays
        an error."""
        return self._commit(df, "append", txn_id, merge_schema=merge_schema)

    def commit_overwrite(
        self,
        df: DataFrame,
        txn_id: str | None = None,
        expected_files: list[str] | None = None,
    ) -> int:
        """Replace the table's contents with df as a new snapshot;
        prior versions stay readable until vacuumed. When ``df`` was
        DERIVED from the table's own current contents (a
        read-transform-overwrite maintenance rewrite), pass
        ``expected_files`` = the source version's file list: the
        publish then fails with ConcurrentCommitError instead of
        silently dropping rows a concurrent append landed in between
        (rebase by re-reading and retrying)."""
        return self._commit(df, "overwrite", txn_id, expected_files=expected_files)

    def merge_upsert(
        self,
        batch: DataFrame,
        keys: list[str],
        txn_id: str | None = None,
    ) -> int:
        """Delta-style copy-on-write MERGE: upsert ``batch`` by key —
        existing rows with a matching key are replaced, new keys
        append — as ONE atomic snapshot commit. The rewrite is
        file-pruned: the batch's per-key-column [min, max] (one tiny
        driver agg) selects only the data files whose recorded stats
        can overlap; every other file carries into the new manifest
        AS-IS (zero rewrite). At 100 TB a daily CDC batch touching
        one day's key range rewrites that day's files, not the table.

        Rows: affected-files ⟕anti batch (drop overwritten) ∪ batch.
        Duplicate keys WITHIN the batch are the caller's contract to
        resolve first (pair with operators/scd.snapshot_diff or a
        groupBy-last — this primitive does not pick a winner).
        Idempotent under ``txn_id`` replay like every commit; readers
        of prior versions see the pre-merge table (copy-on-write
        never mutates a published file).

        Concurrency: the publish verifies the latest manifest's file
        set still equals exactly the files this merge read (carried +
        affected). Any concurrent commit in between — an append whose
        files would otherwise be silently dropped from the rewrite's
        manifest (lost update, ADVICE r8), or another rewrite — makes
        the merge REBASE: recompute pruning and the rewrite against
        the new latest and retry, raising ConcurrentCommitError only
        after repeated conflicts."""
        last: ConcurrentCommitError | None = None
        for _attempt in range(8):
            try:
                return self._merge_once(batch, keys, txn_id)
            except ConcurrentCommitError as e:
                last = e
                self._rebase_backoff(_attempt)
        raise last

    def _merge_once(
        self,
        batch: DataFrame,
        keys: list[str],
        txn_id: str | None,
    ) -> int:
        v = self.latest_version()
        if v == 0:
            return self._commit(batch, "merge", txn_id)
        m = self._load(v)
        stats = m.get("file_stats", {})
        # batch key envelope: one driver row of 2×|keys| scalars
        bounds = batch.agg(
            *[
                agg_col
                for k in keys
                for agg_col in (
                    F.min(k).alias(f"__lo_{k}"),
                    F.max(k).alias(f"__hi_{k}"),
                )
            ]
        ).first()
        affected, carried = [], []
        for f in m["files"]:
            fstats = stats.get(f, {})
            overlap = True
            for k in keys:
                lo, hi = bounds[f"__lo_{k}"], bounds[f"__hi_{k}"]
                rng = fstats.get(k)
                if rng is None or lo is None:
                    continue  # no stats / empty batch: conservative
                flo, fhi = rng
                try:
                    if fhi < self._stat_value(lo) or flo > self._stat_value(hi):
                        overlap = False
                        break
                except TypeError:
                    continue
            (affected if overlap else carried).append(f)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        if affected:
            old = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in affected]
            )
            survivors = old.join(
                batch.select(*keys).distinct(), keys, "left_anti"
            )
            rewritten = survivors.unionByName(batch.select(*old.columns))
        else:
            rewritten = batch
        if txn_id is not None:
            seen = self._txn_version(txn_id)
            if seen is not None:
                return seen
        # ADVICE r9: cheap staleness probe before the expensive rewrite
        self._raise_if_files_moved(set(m["files"]), "merge")
        files, n_rows, new_stats, new_blooms = self._write_data(rewritten)

        def mk(n: int) -> dict:
            pm = self._load(n - 1)
            if txn_id is not None:
                seen_now = self._txn_version(txn_id)
                if seen_now is not None:
                    raise TxnAlreadyCommitted(seen_now)
            # the latest manifest must hold EXACTLY the files this
            # merge read (carried + affected): a missing file means a
            # concurrent rewrite replaced rows we are about to
            # resurrect; an EXTRA file means a concurrent append whose
            # rows this manifest would silently drop (lost update).
            # Either way the rewrite is stale — rebase (outer retry).
            cur = set(pm["files"])
            base = set(carried) | set(affected)
            if cur != base:
                raise ConcurrentCommitError(
                    "merge read files of an older version; latest "
                    f"added {sorted(cur - base)[:3]} / removed "
                    f"{sorted(base - cur)[:3]} — rebasing"
                )
            carried_stats = {
                f: pm.get("file_stats", {}).get(f)
                for f in carried
                if pm.get("file_stats", {}).get(f)
            }
            carried_blooms = {
                f: pm.get("file_blooms", {}).get(f)
                for f in carried
                if pm.get("file_blooms", {}).get(f)
            }
            return {
                "version": n,
                "parent": n - 1,
                "operation": "merge",
                "committed_at": time.time(),
                "txn_id": txn_id,
                "files": carried + files,
                "file_stats": {**carried_stats, **new_stats},
                "file_blooms": {**carried_blooms, **new_blooms},
                "n_rows": n_rows,
                "schema": m["schema"],
                "schema_key": m["schema_key"],
            }

        try:
            return self._publish(mk)
        except TxnAlreadyCommitted as dup:
            self._discard_file_group(files)
            return dup.version
        except ConcurrentCommitError:
            # the group was never published — reclaim it now instead
            # of leaving an orphaned commit dir for vacuum (ADVICE r9)
            self._discard_file_group(files)
            raise

    def delete_where(
        self, predicate: tuple[str, str, object], txn_id: str | None = None
    ) -> int:
        """Copy-on-write row-level DELETE — the right-to-erasure /
        retention primitive (for healthcare data, the HIPAA
        data-subject deletion the reference's infra checker can only
        attest about, not perform): rows matching the (col, op,
        value) predicate disappear in ONE atomic version. File-pruned
        both ways — files whose stats CANNOT match carry into the new
        manifest byte-identical (prune_files machinery), only
        overlapping files rewrite with the predicate inverted. Prior
        versions still contain the rows until ``vacuum`` expires them
        — run vacuum to complete a hard erasure. Ops as in
        prune_files: >=, >, <=, <, ==.

        Concurrency: same rebase protocol as merge_upsert — the
        publish verifies the latest file set is exactly carried +
        affected; a concurrent commit in between triggers an internal
        recompute-and-retry (never a silent drop of its files)."""
        last: ConcurrentCommitError | None = None
        for _attempt in range(8):
            try:
                return self._delete_once(predicate, txn_id)
            except ConcurrentCommitError as e:
                last = e
                self._rebase_backoff(_attempt)
        raise last

    def _delete_once(
        self, predicate: tuple[str, str, object], txn_id: str | None
    ) -> int:
        v = self.latest_version()
        if v == 0:
            raise ValueError(f"empty table: nothing to delete at {self.root}")
        if txn_id is not None:
            seen = self._txn_version(txn_id)
            if seen is not None:
                return seen
        affected, _total = self.prune_files(v, predicate)
        if not affected:
            return v  # stats prove no row matches: no-op
        m = self._load(v)
        carried = [f for f in m["files"] if f not in set(affected)]
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        col, op, value = predicate
        sql_op = "=" if op == "==" else op
        survivors = (
            self.spark.read.schema(schema)
            .parquet(*[os.path.join(self.root, f) for f in affected])
            .filter(~F.expr(f"{col} {sql_op} {json.dumps(value)}"))
        )
        self._raise_if_files_moved(set(m["files"]), "delete")
        files, n_rows, new_stats, new_blooms = self._write_data(survivors)

        def mk(n: int) -> dict:
            pm = self._load(n - 1)
            if txn_id is not None:
                seen_now = self._txn_version(txn_id)
                if seen_now is not None:
                    raise TxnAlreadyCommitted(seen_now)
            cur = set(pm["files"])
            base = set(carried) | set(affected)
            if cur != base:
                raise ConcurrentCommitError(
                    "delete read files of an older version; latest "
                    f"added {sorted(cur - base)[:3]} / removed "
                    f"{sorted(base - cur)[:3]} — rebasing"
                )
            carried_stats = {
                f: pm.get("file_stats", {}).get(f)
                for f in carried
                if pm.get("file_stats", {}).get(f)
            }
            carried_blooms = {
                f: pm.get("file_blooms", {}).get(f)
                for f in carried
                if pm.get("file_blooms", {}).get(f)
            }
            return {
                "version": n,
                "parent": n - 1,
                "operation": "delete",
                "committed_at": time.time(),
                "txn_id": txn_id,
                "files": carried + files,
                "file_stats": {**carried_stats, **new_stats},
                "file_blooms": {**carried_blooms, **new_blooms},
                "n_rows": n_rows,
                "schema": m["schema"],
                "schema_key": m["schema_key"],
            }

        try:
            return self._publish(mk)
        except TxnAlreadyCommitted as dup:
            self._discard_file_group(files)
            return dup.version
        except ConcurrentCommitError:
            # the group was never published — reclaim it now instead
            # of leaving an orphaned commit dir for vacuum (ADVICE r9)
            self._discard_file_group(files)
            raise

    def rollback(self, to_version: int) -> int:
        """Publish a NEW snapshot whose contents equal ``to_version``
        (non-destructive undo; the rolled-back history stays)."""
        target = self._load(to_version)

        def mk(n: int) -> dict:
            return {
                "version": n,
                "parent": n - 1,
                "operation": "rollback",
                "rollback_of": to_version,
                "committed_at": time.time(),
                "txn_id": None,
                "files": target["files"],
                "file_stats": target.get("file_stats", {}),
                "file_blooms": target.get("file_blooms", {}),
                "n_rows": target["n_rows"],
                "schema": target["schema"],
                "schema_key": target["schema_key"],
            }

        return self._publish(mk)

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        txn_id: str | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 10,
        zorder_quantize: str = "minmax",
    ) -> int:
        """Rewrite the CURRENT snapshot's rows into fewer, larger
        immutable files and publish the result as a new ``compact``
        snapshot — the small-file maintenance op every append-heavy
        zone needs (streaming micro-batches write one file group per
        batch; a day of 30 s triggers is ~2880 tiny file groups whose
        per-file open/footer cost dominates scans at 100 TB).

        Same transactional rules as any commit: the rewrite lands as
        invisible data files first, the manifest publishes atomically,
        concurrent readers of ANY version are unaffected — nothing is
        mutated in place. The compacted-away
        files stay on disk for time travel until ``vacuum`` expires
        them. Returns the new version.

        ``sort_by`` re-clusters while compacting (range-repartition +
        per-file sort on those columns): micro-batch appends interleave
        key ranges so every file's [min, max] spans everything and
        manifest file skipping prunes nothing — a sorted compaction
        restores disjoint per-file ranges, turning read(prune=...)
        back into an O(matching files) scan. The maintenance pairing
        is compact nightly with sort_by=the hot predicate column.

        ``zorder_by`` re-clusters along the Z-order curve instead —
        the MULTI-column layout (Delta's OPTIMIZE ZORDER BY): linear
        sort_by gives one column perfect ranges and the others none,
        Z-interleaving gives every listed column partially tight
        per-file rectangles, so prune_files stays effective whichever
        column the predicate hits. Numeric columns only (cast dates
        to epoch days first); ``zorder_quantize="quantile"`` for
        heavy-tailed columns (see sources/layout.zorder_layout).
        Mutually exclusive with sort_by.

        Concurrency: the publish verifies the latest manifest still
        holds exactly the files this compaction read; a concurrent
        append in between (whose files a stale compact manifest would
        silently drop — lost update, ADVICE r8) triggers an internal
        rebase: re-read the new latest and redo the rewrite."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        last: ConcurrentCommitError | None = None
        for _attempt in range(8):
            try:
                return self._compact_once(
                    target_file_bytes,
                    txn_id,
                    sort_by,
                    zorder_by,
                    zorder_bits,
                    zorder_quantize,
                )
            except ConcurrentCommitError as e:
                last = e
                self._rebase_backoff(_attempt)
        raise last

    def _compact_once(
        self,
        target_file_bytes: int,
        txn_id: str | None,
        sort_by: list[str] | None,
        zorder_by: list[str] | None,
        zorder_bits: int,
        zorder_quantize: str,
    ) -> int:
        from pyspark.sql import functions as _F

        v = self.latest_version()
        if v == 0:
            raise ValueError(f"empty table: nothing to compact at {self.root}")
        m = self._load(v)
        n_bytes = sum(
            os.path.getsize(os.path.join(self.root, f)) for f in m["files"]
        )
        n_files = max(1, round(n_bytes / float(target_file_bytes)))
        if sort_by is None and zorder_by is None and len(m["files"]) <= n_files:
            return v  # already at the target layout: no-op
        df = self.read(version=v)
        if sort_by:
            df = df.repartitionByRange(
                n_files, *[_F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        elif zorder_by:
            from .layout import zorder_layout

            df = zorder_layout(
                df,
                zorder_by,
                bits=zorder_bits,
                num_files=n_files,
                quantize=zorder_quantize,
            )
        else:
            df = df.repartition(n_files)
        return self._commit(df, "compact", txn_id, expected_files=m["files"])

    # ---------------------------------------------------------- read

    @staticmethod
    def _file_may_match(stats: dict, col: str, op: str, value) -> bool:
        """True unless the file's [min, max] for ``col`` PROVES no row
        can satisfy ``col op value``. Missing stats ⇒ may match."""
        rng = stats.get(col)
        if not rng:
            return True
        lo, hi = rng
        try:
            if op == ">=":
                return hi >= value
            if op == ">":
                return hi > value
            if op == "<=":
                return lo <= value
            if op == "<":
                return lo < value
            if op in ("==", "="):
                return lo <= value <= hi
        except TypeError:
            return True  # incomparable predicate value: keep the file
        raise ValueError(f"unsupported prune op {op!r} (use >=, >, <=, <, ==)")

    @staticmethod
    def _bloom_may_match(
        bloom: dict | None, col: str, value, col_type: str | None = None
    ) -> bool:
        """False only when the file's bloom filter PROVES ``value``
        absent from ``col``. No bloom for the file or column, or a
        value type whose string rendering Spark and Python may
        disagree on (``_bloom_canon`` abstains) ⇒ may match.

        The bloom indexes CAST(col AS STRING) of the STORED values,
        so it can only prune predicates whose value is of the
        column's own type: Spark's ``string_col == 5`` coerces and
        matches '05', but the bloom hashed '05' while the probe would
        hash '5' — a false prune (ADVICE r8). ``col_type`` (the
        manifest schema's simpleString for the column) gates this:
        the bloom abstains unless the Python value type corresponds
        to the column type exactly; [min, max] pruning (which already
        abstains on TypeError) remains the only prune then."""
        if not bloom:
            return True
        hex_words = bloom.get("cols", {}).get(col)
        if hex_words is None:
            return True
        import datetime as _dt

        if isinstance(value, bool):
            ok = col_type == "boolean"
        elif isinstance(value, int):
            ok = col_type in ("tinyint", "smallint", "int", "bigint")
        elif isinstance(value, str):
            ok = col_type == "string"
        elif isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            ok = col_type == "date"
        else:
            ok = False
        if not ok:
            return True
        canon = _bloom_canon(value)
        if canon is None:
            return True
        return _bloom_test(
            hex_words,
            _bloom_positions(col, canon, bloom["hashes"], bloom["bits"]),
        )

    def prune_files(
        self, version: int, predicate: tuple[str, str, object]
    ) -> tuple[list[str], int]:
        """Manifest-level file skipping (Iceberg's core scan win): the
        (col, op, value) predicate is tested against each file's
        footer [min, max] recorded at commit time, driver-side, with
        ZERO file opens. Returns (surviving root-relative paths,
        total file count). Date/timestamp stats are stored as ISO
        strings — pass the predicate value in the same form
        (lexicographic == chronological).

        Equality predicates additionally test each file's bloom
        filter when the manifest carries one (tables built with
        ``bloom_cols=[...]``): [min, max] cannot prune point lookups
        on high-cardinality UNSORTED keys — every file spans the
        domain — but a bloom proves absence per file."""
        m = self._load(version)
        stats = m.get("file_stats", {})
        blooms = m.get("file_blooms", {})
        col, op, value = predicate
        col_type = dict(map(tuple, m.get("schema_key") or [])).get(col)
        keep = []
        for f in m["files"]:
            if not self._file_may_match(stats.get(f, {}), col, op, value):
                continue
            if op in ("==", "=") and not self._bloom_may_match(
                blooms.get(f), col, value, col_type
            ):
                continue
            keep.append(f)
        return keep, len(m["files"])

    def read(
        self,
        version: int | None = None,
        as_of: float | None = None,
        prune: tuple[str, str, object] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """The table at ``version``, at the last version committed
        ≤ ``as_of`` (unix seconds), or latest. One manifest read
        driver-side; the scan gets an explicit file list, so orphan /
        in-flight files are invisible (snapshot isolation).

        ``prune=(col, op, value)`` applies manifest-level file
        skipping BEFORE the scan (see prune_files) — at 100 TB this
        is the difference between opening every footer and opening
        only the day's files. Pruning is advisory about FILES only:
        apply the same predicate as a .filter() too (surviving files
        may still hold non-matching rows; Spark's row-group pushdown
        finishes the job)."""
        if sum(x is not None for x in (version, as_of, tag)) > 1:
            raise ValueError("pass at most one of version, as_of, tag")
        if tag is not None:
            all_tags = self.tags()
            if tag not in all_tags:
                raise ValueError(
                    f"no tag {tag!r} at {self.root} (have: {sorted(all_tags)})"
                )
            version = all_tags[tag]
        if as_of is not None:
            eligible = [
                v for v in self.versions() if self._load(v)["committed_at"] <= as_of
            ]
            if not eligible:
                raise ValueError(f"no snapshot committed at or before {as_of}")
            version = eligible[-1]
        if version is None:
            version = self.latest_version()
            if version == 0:
                raise ValueError(f"empty table: no snapshots at {self.root}")
        m = self._load(version)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        files = m["files"]
        if prune is not None:
            files, _total = self.prune_files(version, prune)
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, f) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Delta-CDF-style change feed: the rows inserted and deleted
        between two committed versions, as the table schema plus a
        ``_change_type`` column ('insert' | 'delete'). An updated row
        (merge_upsert) appears as its delete + its insert; a keyed
        pre/post pairing on top of this is ``operators/scd.
        snapshot_diff`` — this primitive is key-agnostic.

        Computed from the MANIFESTS, not by diffing the tables: only
        files present in exactly one of the two versions are read.
        Append-only chains therefore cost a scan of just the new
        files (zero comparison work — the common incremental-consumer
        path at 100 TB); rewrite commits (merge/delete/overwrite)
        read only the rewritten file groups, and the multiset
        ``exceptAll`` between those bounded sides cancels
        rewritten-but-unchanged rows, so a pure layout rewrite
        (``compact``) correctly reports ZERO changes. Both sides read
        under ``v_to``'s schema (additive evolution: old files read
        NULL for added columns)."""
        if v_from > v_to:
            raise ValueError(f"v_from {v_from} > v_to {v_to}")
        m_to = self._load(v_to)
        from_files = set(self._load(v_from)["files"]) if v_from >= 1 else set()
        to_files = set(m_to["files"])
        added = sorted(to_files - from_files)
        removed = sorted(from_files - to_files)
        schema = T.StructType.fromJson(json.loads(m_to["schema"]))

        def _scan(rel_files: list[str]) -> DataFrame:
            if not rel_files:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in rel_files]
            )

        ins, dels = _scan(added), _scan(removed)
        if removed and added:
            ins, dels = ins.exceptAll(dels), dels.exceptAll(ins)
        return ins.withColumn("_change_type", F.lit("insert")).unionByName(
            dels.withColumn("_change_type", F.lit("delete"))
        )

    # ---------------------------------------------------------- vacuum

    def vacuum(
        self, keep_last: int = 1, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data files referenced by NO retained snapshot (the
        last ``keep_last`` versions plus every TAGGED version — tags
        pin their snapshots forever) and the expired manifests;
        returns the deleted data-file paths. Files younger than
        ``min_age_seconds`` survive even if unreferenced — they may
        belong to a commit whose manifest has not published yet. The
        default grace window is one hour (Iceberg's orphan-file age
        threshold): a vacuum racing an in-flight commit must NOT
        delete its not-yet-referenced data files, or the commit then
        publishes a manifest pointing at nothing (ADVICE r7). Pass an
        explicit ``min_age_seconds=0`` only when no writer can be
        active (tests, single-writer maintenance windows)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        # tagged versions are pinned: their files and manifests
        # survive any vacuum (the reproducibility contract of tag())
        tagged = {v for v in self.tags().values() if v in set(vs)}
        retained = sorted(set(vs[-keep_last:]) | tagged)
        referenced = set()
        for v in retained:
            referenced.update(self._load(v)["files"])
        now = time.time()
        deleted = []
        data_root = os.path.join(self.root, _DATA_DIR)
        # os.scandir, not glob: checksum dotfiles must be walked too
        # (ADVICE r7) or commit dirs never empty out
        commit_dirs = [e.path for e in os.scandir(data_root) if e.is_dir()]
        for d in commit_dirs:
            for entry in os.scandir(d):
                rel = os.path.relpath(entry.path, self.root)
                if rel in referenced:
                    continue
                if now - entry.stat().st_mtime < min_age_seconds:
                    continue
                os.unlink(entry.path)
                if not os.path.basename(entry.path).startswith("."):
                    deleted.append(rel)
        for d in commit_dirs:
            if not os.listdir(d):
                os.rmdir(d)
        for v in vs:
            if v not in retained:
                os.unlink(self._manifest_path(v))
        return deleted
