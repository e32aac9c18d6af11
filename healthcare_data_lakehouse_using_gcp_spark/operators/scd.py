"""Slowly-changing-dimension (SCD type 2) versioning: keep every
historical version of a dimension row with its validity interval, so
facts join to the attributes that were true WHEN THE FACT HAPPENED —
the temporal correctness a latest-wins upsert (the "upsert" mode of
streaming/pipeline.make_etl_sink) throws away.

The reference's dimensions are snapshot-only (plans/dims rebuilds
dim_patients from the latest staging state); this module is the
beyond-reference temporal layer over the same change-log shape.

Three operators:
- ``scd2_snapshot``: change log → full history. One window pass per
  key (valid_to = lead(valid_from)); the open interval (valid_to
  NULL) marks the current version.
- ``scd2_merge``: incremental apply of a new change batch onto an
  existing history — closes the open intervals of touched keys,
  appends the new versions. PROVEN equivalent (tests/test_scd.py) to
  rebuilding the snapshot from the concatenated log, which is the
  property that makes nightly increments trustworthy.
- ``scd2_lookup``: fact rows → the dimension version valid at the
  fact's timestamp. Equi-join on the key drives the shuffle; the
  interval predicate is a post-join filter over the handful of
  versions each key has — the Catalyst-correct shape (same reasoning
  as operators/joins.band_join), never a range-only theta join.

Scale notes: all three are single-exchange-per-side plans keyed on
the dimension key. History size = change count (no row explosion);
``scd2_merge`` touches only keys present in the batch (broadcast
semi-join when the batch is small). At 100 TB the history table is
what you'd range-sort by (key, valid_from) via sources/layout so
lookups prune.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_snapshot(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tie_break: str | None = None,
) -> DataFrame:
    """Build the full SCD2 history from a change log (one row per
    attribute-change event): adds ``valid_from`` (= the change's
    ``ts_col``), ``valid_to`` (next change's ts, NULL while current)
    and ``is_current``. ``tie_break`` orders same-timestamp changes
    deterministically."""
    order = [F.col(ts_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def scd2_merge(
    history: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tie_break: str | None = None,
) -> DataFrame:
    """Apply a new change batch to an existing SCD2 history.

    Equivalent to ``scd2_snapshot(old_log ∪ batch)`` (gated in
    tests) but touches only the versions of keys PRESENT in the
    batch: untouched keys pass through unchanged (no window, no
    rewrite); touched keys' versions — the closed history rows AND
    the open current row — are re-windowed together with the new
    changes. Requires batch timestamps ≥ the touched keys' open
    ``valid_from`` (late changes older than the current version need
    a snapshot rebuild — fail-loud guard below)."""
    keys = [F.col(c) for c in key_cols]
    batch_keys = changes.select(*key_cols).distinct()
    untouched = history.join(F.broadcast(batch_keys), list(key_cols), "leftanti")
    touched = history.join(F.broadcast(batch_keys), list(key_cols), "leftsemi")
    # guard: a batch change older than a touched key's OPEN version
    # would need already-closed intervals re-opened — that's a rebuild,
    # not a merge; silently merging would corrupt history
    stale = (
        touched.filter(F.col("is_current"))
        .select(*key_cols, F.col("valid_from").alias("__open_from"))
        .join(changes.select(*key_cols, F.col(ts_col).alias("__new_ts")), list(key_cols))
        .filter(F.col("__new_ts") < F.col("__open_from"))
        .limit(1)
        .count()
    )
    if stale:
        raise ValueError(
            "batch contains changes older than a key's current version; "
            "rebuild with scd2_snapshot over the full log instead"
        )
    replayed = scd2_snapshot(
        touched.drop("valid_from", "valid_to", "is_current").unionByName(changes),
        key_cols,
        ts_col,
        tie_break,
    )
    return untouched.unionByName(replayed)


def scd2_lookup(
    facts: DataFrame,
    history: DataFrame,
    key_cols: Sequence[str],
    fact_ts_col: str,
    how: str = "left",
) -> DataFrame:
    """Join each fact row to the dimension version valid at the
    fact's timestamp: equi-join on the key, interval filter
    ``valid_from <= ts < valid_to`` (open interval = current) as the
    post-join predicate. Facts before a key's first version get NULL
    dimension columns (left join)."""
    cond = None
    for c in key_cols:
        eq = facts[c] == history[c]
        cond = eq if cond is None else cond & eq
    ts = facts[fact_ts_col]
    cond = (
        cond
        & (ts >= history["valid_from"])
        & (history["valid_to"].isNull() | (ts < history["valid_to"]))
    )
    return facts.join(history, cond, how).drop(*[history[c] for c in key_cols])


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two full snapshots of a keyed
    table: emit one row per key whose state changed, labelled
    ``change_type`` ∈ {insert, delete, update}, with ``old_<c>`` /
    ``new_<c>`` for every compared column. Unchanged keys are dropped.
    This is the batch CDC primitive feeding SCD2 merges (scd2_merge
    consumes exactly the update/insert rows) and incremental sync.

    Scale design (100 TB): one full-outer shuffle join on the key —
    the minimal data movement any snapshot comparison needs. The
    change predicate is null-safe equality (``eqNullSafe``) on each
    compared column, a pure Column expression inside codegen; no
    row-at-a-time comparison. If both snapshots are written bucketed
    by key (sources/layout), the exchange disappears entirely.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    o = old.select(*keys, *compare_cols).alias("o")
    n = new.select(*keys, *compare_cols).alias("n")
    cond = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
    joined = o.join(n, cond, "full_outer")
    o_missing = F.col(f"o.{keys[0]}").isNull()
    n_missing = F.col(f"n.{keys[0]}").isNull()
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(o_missing, F.lit("insert"))
        .when(n_missing, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return joined.filter(o_missing | n_missing | differs).select(
        *[F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys],
        change.alias("change_type"),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in compare_cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in compare_cols],
    )
